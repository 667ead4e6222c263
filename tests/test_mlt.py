"""more_like_this: interesting-term selection (tf·idf, deterministic
tiebreak, df filters) + execution parity with a hand-built msm query,
and the like_id stored-source path with ES self-exclusion."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from bugzilla_etl_spark.index import (
    build_index,
    mlt_search,
    mlt_select_terms,
    search_many,
)
from bugzilla_etl_spark.index.build import prepare_docs
from bugzilla_etl_spark.oracle import idf
from bugzilla_etl_spark.tokenize import py_analyze


@pytest.fixture(scope="module")
def mlt_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mlt") / "idx")
    build_index(
        spark, small_corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        store_source=True,
    )
    return d


@pytest.fixture(scope="module")
def docs_tok(spark, small_corpus):
    rows = prepare_docs(small_corpus, 4).select("doc_id", "content").collect()
    return {r["doc_id"]: py_analyze(r["content"], "code_v1") for r in rows}


@pytest.fixture(scope="module")
def vocab_df(docs_tok):
    return Counter(t for toks in docs_tok.values() for t in set(toks))


def _ref_select(vocab, n_docs, like, max_terms, min_tf, min_df,
                max_df=None):
    tfs = Counter(py_analyze(like, "code_v1"))
    scored = []
    for t, tf in tfs.items():
        df = vocab.get(t, 0)
        if tf < min_tf or df < min_df:
            continue
        if max_df is not None and df > max_df:
            continue
        scored.append((-(tf * idf(n_docs, df)), t))
    scored.sort()
    return [t for _, t in scored[:max_terms]]


LIKE = "return return return int fn let panic zzznope"


def test_select_terms_matches_reference(mlt_idx, vocab_df, docs_tok):
    got = mlt_select_terms(mlt_idx, LIKE, max_query_terms=3, min_doc_freq=2)
    want = _ref_select(vocab_df, len(docs_tok), LIKE, 3, 1, 2)
    assert got == want
    assert len(got) == 3


def test_select_df_filters(mlt_idx, vocab_df, docs_tok):
    # min_doc_freq high enough to drop rare terms; max_doc_freq drops hot
    hot = vocab_df.most_common(1)[0][1]
    got = mlt_select_terms(
        mlt_idx, LIKE, min_doc_freq=2, max_doc_freq=hot - 1
    )
    want = _ref_select(
        vocab_df, len(docs_tok), LIKE, 25, 1, 2, max_df=hot - 1
    )
    assert got == want
    # absent / sub-min_term_freq terms never selected
    assert "zzznope" not in got
    got_tf2 = mlt_select_terms(mlt_idx, LIKE, min_term_freq=2)
    assert got_tf2 == ["return"]


def test_mlt_execution_parity(spark, mlt_idx, vocab_df, docs_tok):
    terms = mlt_select_terms(mlt_idx, LIKE, max_query_terms=4,
                             min_doc_freq=2)
    m = max(1, math.floor(0.5 * len(terms)))
    want = search_many(
        spark, mlt_idx, [(0, " ".join(terms), 10)], min_should_match=m
    )[0]
    got = mlt_search(
        spark, mlt_idx, like=LIKE, k=10, max_query_terms=4,
        min_doc_freq=2, minimum_should_match=0.5,
    )
    assert got == want
    assert got


def test_mlt_like_id_excludes_self(spark, mlt_idx, docs_tok):
    src = sorted(docs_tok)[0]
    got = mlt_search(spark, mlt_idx, like_id=src, k=10,
                     minimum_should_match=1)
    assert got
    assert all(d != src for d, _ in got)
    # parity with the equivalent like= text modulo self-exclusion
    row_toks = docs_tok[src]
    like_text = " ".join(row_toks)
    via_text = mlt_search(spark, mlt_idx, like=like_text, k=11,
                          minimum_should_match=1)
    want = [(d, s) for d, s in via_text if d != src][:10]
    assert got == want


def test_mlt_validation(spark, mlt_idx):
    with pytest.raises(ValueError, match="exactly one"):
        mlt_search(spark, mlt_idx)
    with pytest.raises(ValueError, match="exactly one"):
        mlt_search(spark, mlt_idx, like="x", like_id=1)
    with pytest.raises(ValueError, match="not a live doc"):
        mlt_search(spark, mlt_idx, like_id=999999999)
    with pytest.raises(ValueError, match="minimum_should_match"):
        mlt_search(spark, mlt_idx, like="return", minimum_should_match=0)
    with pytest.raises(ValueError, match="fractional"):
        mlt_search(spark, mlt_idx, like="return",
                   minimum_should_match=1.5)
    assert mlt_search(spark, mlt_idx, like="zzznope qqnope") == []


def test_mlt_like_id_needs_source(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mltnosrc") / "idx")
    build_index(spark, small_corpus, d, n_shards=2, n_tb=2)
    with pytest.raises(ValueError, match="store_source"):
        mlt_search(spark, d, like_id=1)


def test_unlike_subtracts_term_frequencies(mlt_idx):
    """ES more_like_this.unlike: negative-example frequencies subtract
    before selection — fully-cancelled terms drop out; partially-
    cancelled terms demote by their reduced tf."""
    base = mlt_select_terms(mlt_idx, "return return class struct",
                            min_doc_freq=2)
    assert "return" in base and "class" in base
    # unlike cancels both 'return' occurrences and one of nothing else
    got = mlt_select_terms(
        mlt_idx, "return return class struct", min_doc_freq=2,
        unlike="return return",
    )
    assert "return" not in got
    assert set(got) == set(base) - {"return"}
    # partial cancellation keeps the term but lowers its tf rank
    part = mlt_select_terms(
        mlt_idx, "return return class struct", min_doc_freq=2,
        unlike="return",
    )
    assert "return" in part


def test_mlt_search_unlike_changes_results(spark, mlt_idx):
    from bugzilla_etl_spark.index import mlt_search

    a = mlt_search(spark, mlt_idx, like="return int class", k=10,
                   minimum_should_match=1)
    b = mlt_search(spark, mlt_idx, like="return int class", k=10,
                   minimum_should_match=1,
                   unlike="return int")
    assert a and b and a != b
