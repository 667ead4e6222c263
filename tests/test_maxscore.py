"""Vectorized exact-MaxScore scorer: property-tested equal to the
exhaustive oracle (FIXTURES.md invariant 3), and proven to skip
hot-list block decodes."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

import bugzilla_etl_spark.index.query as q
from bugzilla_etl_spark.codec import doc_id_to_u64, varint_encode
from bugzilla_etl_spark.index.postings import BlockList, TermPostings
from bugzilla_etl_spark.oracle import BM25Oracle
from bugzilla_etl_spark.oracle import impact as _impact

K1, B = 1.2, 0.75


def _lists_from_oracle(oracle: BM25Oracle, terms, block_size=8, n_salts=2):
    from bugzilla_etl_spark.oracle import idf as idf_fn

    avgdl = oracle.avgdl
    lists: dict[str, TermPostings] = {}
    for t in sorted(set(terms)):
        plist = oracle.postings.get(t)
        if not plist:
            continue
        w = idf_fn(oracle.n_docs, len(plist))
        tp = lists[t] = TermPostings()
        for salt in range(n_salts):
            docs = sorted(
                (d for d in plist if d % n_salts == salt),
                key=lambda d: int(doc_id_to_u64(np.array([d], dtype=np.int64))[0]),
            )
            if not docs:
                continue
            tl = tp.subs[(salt, 0)] = BlockList(w, K1, B, avgdl)
            du = doc_id_to_u64(np.array(docs, dtype=np.int64))
            tf = np.array([plist[d] for d in docs], dtype=np.uint64)
            dl = np.array([oracle.doc_len[d] for d in docs], dtype=np.uint64)
            for off in range(0, len(du), block_size):
                hi = min(off + block_size, len(du))
                d = du[off:hi]
                gaps = np.empty_like(d)
                gaps[0] = d[0]
                np.subtract(d[1:], d[:-1], out=gaps[1:])
                imps = [_impact(int(tf[j]), int(dl[j]), avgdl) for j in range(off, hi)]
                tl.add_block(
                    d[0], d[-1], max(imps), hi - off,
                    varint_encode(gaps), varint_encode(tf[off:hi]),
                    varint_encode(dl[off:hi]),
                )
        tp.seal()
    return lists


def _decoded(lists, terms) -> tuple[int, int]:
    """(decoded blocks, total blocks) across the terms' sub-lists."""
    subs = [sl for t in terms for sl in lists[t].subs.values()]
    return sum(len(sl._dec) for sl in subs), sum(len(sl.firsts) for sl in subs)


def _mk_oracle(doc_tokens):
    o = BM25Oracle()
    for i, toks in enumerate(doc_tokens):
        o.add(i * 7919 - 3000, " ".join(toks))
    return o


NO_TOMB = np.array([], dtype=np.int64)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=25),
        min_size=1,
        max_size=80,
    ),
    st.lists(st.sampled_from("abcdefgz"), min_size=1, max_size=4),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=3),
    st.sampled_from([1, 2, 4, 8]),
)
# a query matching nothing, and k larger than the match count
@example([["a", "b"], ["b", "c"]], ["z"], 5, 1, 4)
@example([["a", "b"], ["b", "c"]], ["a"], 10, 1, 4)
def test_maxscore_equals_oracle(doc_tokens, query_terms, k, n_salts, block_size):
    oracle = _mk_oracle(doc_tokens)
    want = oracle.search(" ".join(query_terms), k)
    lists = _lists_from_oracle(oracle, query_terms, block_size, n_salts)
    present = sorted(lists)
    if not present:
        assert want == []
        return
    old = q.HOT_POSTINGS
    try:
        q.HOT_POSTINGS = 10  # force the pruned path whenever possible
        got = q._score_maxscore(present, lists, NO_TOMB, k)
    finally:
        q.HOT_POSTINGS = old
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_maxscore_skips_hot_blocks():
    rng = np.random.default_rng(11)
    docs = []
    for i in range(4000):
        toks = ["hot"] * int(rng.integers(1, 5))
        if i % 200 == 1:
            toks += ["rare"] * 3
        docs.append(toks)
    oracle = _mk_oracle(docs)
    lists = _lists_from_oracle(oracle, ["hot", "rare"], block_size=32)
    old = q.HOT_POSTINGS
    try:
        q.HOT_POSTINGS = 1000
        got = q._score_maxscore(["hot", "rare"], lists, NO_TOMB, 5)
    finally:
        q.HOT_POSTINGS = old
    want = oracle.search("hot rare", 5)
    assert [d for d, _ in got] == [d for d, _ in want]
    hot_decoded, hot_blocks = _decoded(lists, ["hot"])
    assert hot_decoded < hot_blocks * 0.5, (
        f"decoded {hot_decoded}/{hot_blocks} hot blocks — pruning ineffective"
    )


def test_maxscore_all_hot_falls_back_exact():
    docs = [["hot", "warm"] * 3 for _ in range(500)]
    oracle = _mk_oracle(docs)
    lists = _lists_from_oracle(oracle, ["hot", "warm"])
    old = q.HOT_POSTINGS
    try:
        q.HOT_POSTINGS = 10
        got = q._score_maxscore(["hot", "warm"], lists, NO_TOMB, 7)
    finally:
        q.HOT_POSTINGS = old
    want = oracle.search("hot warm", 7)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_multi_hot_skips_blocks():
    """The 'return int' case: TWO hot terms, no selective term. The
    impact-ordered multi-term scorer must match the oracle while
    decoding only the high-impact prefix of each list (round-1 gap:
    this shape fell back to full decode)."""
    rng = np.random.default_rng(23)
    docs = []
    for i in range(6000):
        # a high-tf stripe for both terms -> a few dominant blocks
        if 2000 <= i < 2080:
            docs.append(["ret"] * 30 + ["int"] * 25 + ["pad"])
        else:
            docs.append(
                ["ret"] * int(rng.integers(1, 4)) + ["int"] * int(rng.integers(1, 4)) + ["pad"] * 5
            )
    oracle = _mk_oracle(docs)
    lists = _lists_from_oracle(oracle, ["ret", "int"], block_size=64, n_salts=2)
    old = q.HOT_POSTINGS
    try:
        q.HOT_POSTINGS = 100  # both terms hot
        got = q._score_maxscore(["int", "ret"], lists, NO_TOMB, 10)
    finally:
        q.HOT_POSTINGS = old
    want = oracle.search("ret int", 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    decoded, total = _decoded(lists, lists)
    assert decoded < total * 0.5, f"decoded {decoded}/{total} — multi-hot not pruning"


def test_multi_hot_with_tombstones_exact():
    rng = np.random.default_rng(5)
    docs = [
        ["hot"] * int(rng.integers(1, 6)) + ["warm"] * int(rng.integers(1, 4))
        for _ in range(800)
    ]
    oracle = _mk_oracle(docs)
    want_all = oracle.search("hot warm", 30)
    # tombstone the top-3 docs: the scorer must surface the next ones
    tomb = np.array(sorted(d for d, _ in want_all[:3]), dtype=np.int64)
    want = [(d, s) for d, s in want_all if d not in set(tomb.tolist())][:8]
    lists = _lists_from_oracle(oracle, ["hot", "warm"], block_size=16)
    old = q.HOT_POSTINGS
    try:
        q.HOT_POSTINGS = 10
        got = q._score_maxscore(["hot", "warm"], lists, tomb, 8)
    finally:
        q.HOT_POSTINGS = old
    assert [d for d, _ in got] == [d for d, _ in want]


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=20),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=1, max_value=15),
)
def test_single_hot_term_equals_oracle(doc_tokens, k):
    oracle = _mk_oracle(doc_tokens)
    if "a" not in oracle.postings:
        return
    want = oracle.search("a", k)
    lists = _lists_from_oracle(oracle, ["a"], block_size=4, n_salts=2)
    old = q.HOT_POSTINGS
    try:
        q.HOT_POSTINGS = 1  # force the single-hot path
        got = q._score_maxscore(["a"], lists, NO_TOMB, k)
    finally:
        q.HOT_POSTINGS = old
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_single_hot_term_skips_blocks():
    # a contiguous high-tf stripe gives a few blocks dominant maxes;
    # impact-ordered processing must stop after them
    docs = []
    for i in range(5000):
        tf = 40 if 1000 <= i < 1100 else 1 + (i % 3)
        docs.append(["hot"] * tf + ["pad"])
    oracle = _mk_oracle(docs)
    lists = _lists_from_oracle(oracle, ["hot"], block_size=64, n_salts=1)
    old = q.HOT_POSTINGS
    try:
        q.HOT_POSTINGS = 100
        got = q._score_maxscore(["hot"], lists, NO_TOMB, 10)
    finally:
        q.HOT_POSTINGS = old
    want = oracle.search("hot", 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    decoded, total = _decoded(lists, ["hot"])
    assert decoded < total * 0.6, f"decoded {decoded}/{total}"


def _merge_topk_reference(pdf, ks):
    """The pandas sort + groupby driver merge ``_merge_topk`` replaced."""
    out = {}
    pdf = pdf.sort_values(["query_id", "score", "doc_id"], ascending=[True, False, True])
    for qid, grp in pdf.groupby("query_id", sort=False):
        k = ks[int(qid)]
        out[int(qid)] = list(zip(grp["doc_id"].tolist()[:k], grp["score"].tolist()[:k]))
    return out


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 4),
            st.integers(-(2**62), 2**62),
            st.sampled_from([0.0, -0.0, 1.5, 2.25, -3.0, 7.125]),
        ),
        max_size=60,
        unique_by=lambda r: (r[0], r[1]),
    ),
    k=st.integers(1, 8),
)
def test_merge_topk_equals_pandas_reference(rows, k):
    """Ties on score (including 0.0 vs -0.0) break by doc_id ascending,
    each query keeps its first k rows, and values keep their types."""
    pdf = q._empty_like(q.RESULT_SCHEMA)
    if rows:
        pdf = pd.DataFrame(rows, columns=["query_id", "doc_id", "score"]).astype(
            pdf.dtypes.to_dict()
        )
    ks = {qid: k + qid for qid in range(5)}
    got = q._merge_topk(pdf, ks, {})
    want = _merge_topk_reference(pdf, ks)
    assert got == want
    assert [type(x) for r in got.values() for p in r for x in p] == [
        type(x) for r in want.values() for p in r for x in p
    ]


def test_empty_like_hands_out_fresh_typed_copies():
    a, b = q._empty_like(q.RESULT_SCHEMA), q._empty_like(q.RESULT_SCHEMA)
    assert a is not b
    assert a.dtypes.astype(str).tolist() == ["int32", "int64", "float64"]
    a["query_id"] = a["query_id"].astype("int64")
    assert b.dtypes.astype(str).tolist() == ["int32", "int64", "float64"]
