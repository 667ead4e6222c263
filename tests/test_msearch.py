"""_msearch: heterogeneous batching — per-entry filters/sorts/cursors,
Bool and query-string entries, parity with the direct entry points."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import (
    Bool,
    bool_search,
    build_index,
    match_all_search,
    msearch,
    query_string_search,
)


@pytest.fixture(scope="module")
def ms_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ms") / "idx")
    corpus = small_corpus.withColumn("n_chars", F.length("content"))
    build_index(
        spark, corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["n_chars"], positions=True,
    )
    return d


def test_heterogeneous_request_matches_direct_calls(spark, ms_idx):
    q_py = Bool(must="return", filter=[("lang", "==", "python")])
    q_go = Bool(must="return", filter=[("lang", "==", "go")])
    q_srt = Bool(must="class")
    got = msearch(
        spark, ms_idx,
        [
            (0, q_py, 5),
            (1, q_go, 5),
            (2, "+struct -fn", 5),
            (3, q_srt, 5, {"sort_by": ("n_chars", "desc")}),
        ],
    )
    assert got[0] == bool_search(spark, ms_idx, q_py, k=5)
    assert got[1] == bool_search(spark, ms_idx, q_go, k=5)
    assert got[2] == query_string_search(spark, ms_idx, "+struct -fn", k=5)
    assert got[3] == bool_search(
        spark, ms_idx, q_srt, k=5, sort_by=("n_chars", "desc")
    )
    assert all(got[i] for i in range(4)), "fixture must produce hits"


def test_homogeneous_entries_group_into_one_batch(spark, ms_idx):
    # same (field, filter, opts) context -> one bool_search_many batch;
    # verify by intercepting the group fan-out
    import sys

    ms_mod = sys.modules["bugzilla_etl_spark.index.msearch"]

    calls = []
    orig = ms_mod.bool_search_many

    def spy(spark_, d, batch, **kw):
        calls.append(len(batch))
        return orig(spark_, d, batch, **kw)

    ms_mod.bool_search_many = spy
    try:
        got = msearch(
            spark, ms_idx,
            [(0, Bool(must="return"), 3), (1, Bool(must="class"), 3),
             (2, Bool(must="struct"), 3)],
        )
    finally:
        ms_mod.bool_search_many = orig
    assert calls == [3]
    assert got[0] == bool_search(spark, ms_idx, Bool(must="return"), k=3)


def test_match_all_and_cursor_entries(spark, ms_idx):
    flt = [("lang", "==", "python")]
    page1 = match_all_search(
        spark, ms_idx, flt, k=5, sort_by=("n_chars", "asc")
    )
    cursor = (page1[-1][1], page1[-1][0])
    got = msearch(
        spark, ms_idx,
        [
            (7, Bool(filter=flt), 5,
             {"sort_by": ("n_chars", "asc")}),
            (8, Bool(filter=flt), 5,
             {"sort_by": ("n_chars", "asc"), "search_after": cursor}),
        ],
    )
    assert got[7] == page1
    assert got[8] == match_all_search(
        spark, ms_idx, flt, k=5, sort_by=("n_chars", "asc"),
        search_after=cursor,
    )
    assert not ({d for d, _ in got[7]} & {d for d, _ in got[8]})


def test_msearch_validation(spark, ms_idx):
    with pytest.raises(ValueError, match="duplicate"):
        msearch(spark, ms_idx, [(0, Bool(must="a"), 1),
                                (0, Bool(must="b"), 1)])
    with pytest.raises(ValueError, match="unknown msearch opts"):
        msearch(spark, ms_idx, [(0, Bool(must="a"), 1, {"nope": 1})])
    with pytest.raises(ValueError, match="Bool or a query string"):
        msearch(spark, ms_idx, [(0, 42, 1)])
    with pytest.raises(ValueError, match="qid, query, k"):
        msearch(spark, ms_idx, [(0, Bool(must="a"))])
