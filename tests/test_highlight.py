"""ES highlighting over stored _source (build_index(store_source=True)):
analyzer-driven match spans, stop/shingle chain semantics, fragmenting,
and the end-to-end search -> highlight_docs path.
"""

from __future__ import annotations

import pytest

from bugzilla_etl_spark.index import (
    build_index,
    highlight_docs,
    highlight_text,
    search,
)
from bugzilla_etl_spark.index.build import prepare_docs
from bugzilla_etl_spark.index.highlight import match_spans, token_spans
from bugzilla_etl_spark.index.query import fetch_docs

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


# ------------------------------------------------------------ pure units
def test_token_spans_case_preserving():
    text = "Return INT return_value x9"
    spans = token_spans(text, "code_v1")
    assert spans == [
        ("return", 0, 6), ("int", 7, 10), ("return_value", 11, 23),
        ("x9", 24, 26),
    ]
    # path chain splits on underscore too
    p = token_spans("io_util", "path_v1")
    assert p == [("io", 0, 2), ("util", 3, 7)]


def test_match_spans_merges_adjacent():
    text = "return int x return"
    spans = match_spans(text, "code_v1", {"return", "int"})
    # 'return int' tokens touch via the space -> NOT merged (gap byte),
    # each its own span; the trailing return matches too
    assert spans == [(0, 6), (7, 10), (13, 19)]


def test_match_spans_stop_chain_never_marks_stopword():
    text = "the return of the int"
    assert match_spans(text, "code_v1_stop", {"the", "return", "int"}) == [
        (4, 10), (18, 21),
    ]
    # plain chain CAN mark it (stopwords indexed there)
    assert (0, 3) in match_spans(text, "code_v1", {"the"})


def test_match_spans_shingle_bigram_marks_both_tokens():
    text = "alpha beta gamma"
    spans = match_spans(text, "code_v1_shingle", {"alpha_beta"})
    assert spans == [(0, 10)]  # alpha..beta as one merged run
    # bigram across a stopword: 'alpha the beta' -> kept-adjacency
    spans2 = match_spans("alpha the beta", "code_v1_shingle", {"alpha_beta"})
    assert spans2 == [(0, 14)]


def test_highlight_text_marking_and_fragments():
    text = "aa return bb " * 30  # long doc, many matches
    frags = highlight_text(text, "code_v1", {"return"}, fragment_size=0)
    assert len(frags) == 1 and frags[0].count("<em>return</em>") == 30
    frags = highlight_text(
        text, "code_v1", {"return"}, fragment_size=40, n_fragments=2
    )
    assert len(frags) == 2
    for f in frags:
        assert "<em>return</em>" in f and len(f) <= 40 + 2 * len("<em></em>") * 4
    assert highlight_text("nothing here", "code_v1", {"zz"}) == []
    custom = highlight_text("x return y", "code_v1", {"return"}, pre="[", post="]")
    assert custom == ["x [return] y"]


# ------------------------------------------------------------ end-to-end
@pytest.fixture(scope="module")
def src_idx(spark, tmp_path_factory):
    rows = [
        ("r", "0", "c0", "en", "the quick return of int values"),
        ("r", "1", "c0", "en", "return return return int"),
        ("r", "2", "c0", "en", "no match material here"),
        ("r", "3", "c0", "en", "int only"),
    ]
    corpus = spark.createDataFrame(rows, schema=CORPUS_SCHEMA)
    d = str(tmp_path_factory.mktemp("hl") / "idx")
    build_index(
        spark, corpus, d, n_shards=2, n_tb=2,
        store_source=True,
    )
    ids = {
        r["path"]: int(r["doc_id"])
        for r in prepare_docs(corpus, 2).select("doc_id", "path").collect()
    }
    return d, ids


def test_store_source_round_trip(spark, src_idx):
    d, ids = src_idx
    pdf = fetch_docs(d, [ids["1"]], columns=["content"])
    assert pdf["content"].tolist() == ["return return return int"]


def test_highlight_docs_end_to_end(spark, src_idx):
    d, ids = src_idx
    hits = search(spark, d, "return int", k=10)
    got = highlight_docs(d, [h for h, _ in hits], "return int",
                         fragment_size=0)
    assert got[ids["1"]] == [
        "<em>return</em> <em>return</em> <em>return</em> <em>int</em>"
    ]
    assert got[ids["0"]] == [
        "the quick <em>return</em> of <em>int</em> values"
    ]
    assert got[ids["3"]] == ["<em>int</em> only"]
    # unknown/no-match ids -> []
    assert highlight_docs(d, [999], "return")[999] == []


def test_highlight_requires_store_source(spark, tmp_path):
    corpus = spark.createDataFrame(
        [("r", "0", "c0", "en", "return int")], schema=CORPUS_SCHEMA
    )
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, n_shards=2, n_tb=2)
    with pytest.raises(ValueError, match="store_source"):
        highlight_docs(d, [1], "return")


def test_highlight_survives_incremental_and_merge(spark, tmp_path):
    from bugzilla_etl_spark.index import incremental_update, merge_segments

    corpus1 = spark.createDataFrame(
        [("r", "0", "c0", "en", "alpha return beta")], schema=CORPUS_SCHEMA
    )
    corpus2 = spark.createDataFrame(
        [("r", "1", "c0", "en", "gamma return delta")], schema=CORPUS_SCHEMA
    )
    d = str(tmp_path / "idx")
    build_index(spark, corpus1, d, n_shards=2, n_tb=2,
                store_source=True)
    incremental_update(spark, corpus2, d)
    ids = {
        r["path"]: int(r["doc_id"])
        for r in prepare_docs(corpus1.unionByName(corpus2), 2)
        .select("doc_id", "path").collect()
    }
    got = highlight_docs(d, list(ids.values()), "return", fragment_size=0)
    assert got[ids["0"]] == ["alpha <em>return</em> beta"]
    assert got[ids["1"]] == ["gamma <em>return</em> delta"]
    merge_segments(spark, d)
    got2 = highlight_docs(d, list(ids.values()), "return", fragment_size=0)
    assert got2 == got
