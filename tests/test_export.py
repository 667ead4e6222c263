"""matches_df: the full match set as a distributed DataFrame (ES
scroll/PIT re-expressed as a Spark source). Parity bar: the exported
set must be EXACTLY the uncut bool_search result — same membership,
same scores — and match_all + filter must be exactly the filtered live
docs dimension. Also covers attr column carrying, downstream
composability (join + filter on the lazy frame), and the validation
rails (rank-shaping options rejected)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import Bool, bool_search, build_index, matches_df
from bugzilla_etl_spark.index.build import prepare_docs


@pytest.fixture(scope="module")
def attr_corpus(spark, small_corpus):
    return small_corpus.withColumn("n_chars", F.length("content"))


@pytest.fixture(scope="module")
def exp_idx(spark, attr_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("export") / "idx")
    build_index(
        spark, attr_corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["n_chars"], positions=True,
    )
    return d


@pytest.fixture(scope="module")
def docs_map(spark, attr_corpus):
    rows = (
        prepare_docs(attr_corpus, 4)
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    return {r["doc_id"]: (r["lang"], r["n_chars"]) for r in rows}


def _uncut(spark, idx, q):
    return bool_search(spark, idx, q, k=10**6)


def _same_scored_set(got_rows, want_pairs):
    got = {(r["doc_id"], round(r["score"], 6)) for r in got_rows}
    want = {(d, round(s, 6)) for d, s in want_pairs}
    assert got == want, (len(got), len(want), got ^ want)


def test_export_equals_uncut_search(spark, exp_idx):
    q = Bool(must="for")
    df = matches_df(spark, exp_idx, q)
    assert df.columns == ["doc_id", "score"]
    _same_scored_set(df.collect(), _uncut(spark, exp_idx, q))


def test_export_composed_clauses(spark, exp_idx):
    q = Bool(
        must="for", phrase="return int", must_not="panic",
        filter=(("lang", "==", "python"),),
    )
    rows = matches_df(spark, exp_idx, q).collect()
    want = _uncut(spark, exp_idx, q)
    assert want, "composed query must be non-vacuous"
    _same_scored_set(rows, want)


def test_export_msm_and_should(spark, exp_idx):
    q = Bool(must="for return int", min_should_match=2, should="panic")
    _same_scored_set(
        matches_df(spark, exp_idx, q).collect(), _uncut(spark, exp_idx, q)
    )
    # should-only promotes to an msm=1 gate (the ES bool shape)
    q2 = Bool(should="panic")
    _same_scored_set(
        matches_df(spark, exp_idx, q2).collect(),
        _uncut(spark, exp_idx, q2),
    )


def test_export_match_all_filter(spark, exp_idx, docs_map):
    df = matches_df(
        spark, exp_idx, Bool(filter=(("lang", "==", "python"),))
    )
    rows = df.collect()
    want_ids = {d for d, (lang, _) in docs_map.items() if lang == "python"}
    assert {r["doc_id"] for r in rows} == want_ids
    assert all(r["score"] == 0.0 for r in rows)


def test_export_attr_columns(spark, exp_idx, docs_map):
    df = matches_df(
        spark, exp_idx, Bool(must="for"), columns=["lang", "n_chars"]
    )
    rows = df.collect()
    assert rows
    for r in rows:
        lang, n_chars = docs_map[r["doc_id"]]
        assert r["lang"] == lang
        assert r["n_chars"] == n_chars


def test_export_composes_downstream(spark, exp_idx, attr_corpus):
    """The lazy frame joins/filters like any Spark source — the whole
    point of exporting as a DataFrame instead of a scroll cursor."""
    ids = prepare_docs(attr_corpus, 4).select(
        "doc_id", F.col("path").alias("orig_path")
    )
    out = (
        matches_df(spark, exp_idx, Bool(must="for"), columns=["n_chars"])
        .join(F.broadcast(ids), "doc_id")
        .filter(F.col("n_chars") > 0)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("orig_path").alias("paths"),
        )
        .collect()[0]
    )
    assert out["n"] > 0
    assert out["paths"] == out["n"]  # one corpus row per match


def test_export_empty_and_unmatchable(spark, exp_idx):
    df = matches_df(spark, exp_idx, Bool(must="zzznotaterm"))
    assert df.count() == 0
    assert df.columns == ["doc_id", "score"]
    # phrase containing a dead term is unmatchable too
    assert (
        matches_df(spark, exp_idx, Bool(phrase="for zzznotaterm")).count()
        == 0
    )


def test_export_rejects_rank_shaping(spark, exp_idx):
    with pytest.raises(ValueError, match="match set"):
        matches_df(
            spark, exp_idx,
            Bool(multi_match=("for",), mm_fields=("content",)),
        )
    with pytest.raises(ValueError, match="match set"):
        matches_df(spark, exp_idx, Bool(must="for", negative=("panic",)))
    with pytest.raises(ValueError, match="boosts"):
        matches_df(
            spark, exp_idx, Bool(must=("for",), must_boosts=(2.0,))
        )
    with pytest.raises(ValueError, match="unknown sort attribute"):
        matches_df(
            spark, exp_idx, Bool(must="for"), columns=["nope"]
        )


def test_export_scores_are_finite(spark, exp_idx):
    rows = matches_df(spark, exp_idx, Bool(must="for return")).collect()
    assert rows
    assert all(math.isfinite(r["score"]) and r["score"] > 0 for r in rows)
