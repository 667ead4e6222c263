"""Multi-field indexing: ONE index serving several analyzer-chain
variants of the same content (the reference's one-field-indexed-N-ways
model, configuration/es/bug_version.json:4-35,294-303), built from a
single corpus scan and queried per field (VERDICT r2 #3).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from bugzilla_etl_spark.corpus import generate_corpus_pdf
from bugzilla_etl_spark.index import (
    build_index,
    incremental_update,
    merge_segments,
    search_many,
)
from bugzilla_etl_spark.index.build import prepare_docs
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.oracle import build_oracle

EXTRA = {"content_shingle": "code_v1_shingle", "content_stop": "code_v1_stop"}

QUERIES = [
    (1, "return int", 10),
    (2, "uniq_13 return", 10),
    (3, "hash table for the win", 10),   # stopwords + bigrams differ per chain
    (4, "r5_sym1 fn impl", 10),
]


def _assert_field_matches(spark, d, corpus_pdf, fld, chain):
    corpus = (
        corpus_pdf
        if hasattr(corpus_pdf, "sparkSession")
        else None
    )
    rows = list(zip(corpus_pdf["__doc_id"], corpus_pdf["content"]))
    oracle = build_oracle(rows, chain=chain)
    res = search_many(spark, d, QUERIES, field=fld)
    for qid, text, k in QUERIES:
        want = oracle.search(text, k)
        got = res[qid]
        assert [x for x, _ in got] == [x for x, _ in want], (fld, qid, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-6), (fld, qid, gs, ws)


@pytest.fixture(scope="module")
def multifield(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mf") / "idx")
    pdf = generate_corpus_pdf(200)
    corpus = spark.createDataFrame(pdf)
    build_index(
        spark, corpus, d,
        n_shards=4, n_tb=4, n_salts=2, block_size=16,
        extra_fields=EXTRA,
    )
    ids = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in prepare_docs(corpus, 4).select(
            "repo", "path", "commit", "doc_id"
        ).collect()
    }
    pdf = pdf.copy()
    pdf["__doc_id"] = [
        ids[(r.repo, r.path, r.commit)] for r in pdf.itertuples()
    ]
    return d, pdf


@pytest.mark.parametrize(
    "fld,chain",
    [("content", "code_v1"), ("content_shingle", "code_v1_shingle"),
     ("content_stop", "code_v1_stop")],
)
def test_each_field_rank_identical(spark, multifield, fld, chain):
    """Every field variant of ONE index is rank+score identical to an
    oracle built with that variant's chain — the dual-view capability
    the reference's field model requires."""
    d, pdf = multifield
    _assert_field_matches(spark, d, pdf, fld, chain)


def test_unknown_field_raises(spark, multifield):
    d, _ = multifield
    with pytest.raises(KeyError):
        search_many(spark, d, [(0, "return", 5)], field="nope")


def test_manifest_records_field_model(spark, multifield):
    d, _ = multifield
    m = IndexManifest.load(d)
    assert m.fields == EXTRA
    # shingle/stop chains drop stopwords -> strictly shorter field dl
    assert m.field_sum_doc_len["content_stop"] < m.sum_doc_len
    # shingles add bigrams back on top of the stop-filtered stream
    assert (
        m.field_sum_doc_len["content_shingle"]
        > m.field_sum_doc_len["content_stop"]
    )
    assert m.segments[0]["field_avgdl"]["content_shingle"] == pytest.approx(
        m.field_avgdl("content_shingle")
    )


def test_incremental_and_merge_preserve_fields(spark, multifield, tmp_path):
    """Append + compact keep every field variant queryable and exact."""
    d, pdf = multifield
    import shutil

    d2 = str(tmp_path / "idx2")
    shutil.copytree(d, d2)
    extra_pdf = generate_corpus_pdf(100, start=200)
    extra_corpus = spark.createDataFrame(extra_pdf)
    incremental_update(spark, extra_corpus, d2)
    combined = pd.concat([pdf.drop(columns="__doc_id"), extra_pdf], ignore_index=True)
    ids = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in prepare_docs(spark.createDataFrame(combined), 4)
        .select("repo", "path", "commit", "doc_id")
        .collect()
    }
    combined["__doc_id"] = [
        ids[(r.repo, r.path, r.commit)] for r in combined.itertuples()
    ]
    _assert_field_matches(spark, d2, combined, "content_shingle", "code_v1_shingle")
    m = merge_segments(spark, d2)
    assert len(m.segments) == 1
    _assert_field_matches(spark, d2, combined, "content_shingle", "code_v1_shingle")
    _assert_field_matches(spark, d2, combined, "content", "code_v1")


def test_random_queries_all_fields(spark, multifield):
    """Randomized probe: 40 seeded random queries (mixing corpus vocab,
    stopwords, bigram-able adjacencies, and unknown terms) against every
    field variant — rank+score identical to each chain's oracle. Catches
    cross-field interactions the fixed query set misses (terms present
    in one variant's vocabulary but not another's)."""
    import random

    d, pdf = multifield
    rng = random.Random(42)
    vocab = sorted({t for c in pdf["content"].head(50) for t in c.split()[:30]})
    extras = ["the", "of", "zzz_unknown", "hash_table", "uniq_13"]
    queries = []
    for qid in range(40):
        k = rng.randint(1, 4)
        words = rng.sample(vocab, k) + rng.sample(extras, rng.randint(0, 2))
        rng.shuffle(words)
        queries.append((qid, " ".join(words), rng.choice([3, 5, 10])))

    rows = list(zip(pdf["__doc_id"], pdf["content"]))
    for fld, chain in (
        ("content", "code_v1"),
        ("content_shingle", "code_v1_shingle"),
        ("content_stop", "code_v1_stop"),
    ):
        oracle = build_oracle(rows, chain=chain)
        res = search_many(spark, d, queries, field=fld)
        for qid, text, k in queries:
            want = oracle.search(text, k)
            got = res[qid]
            assert [x for x, _ in got] == [x for x, _ in want], (fld, qid, text)
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, abs_tol=1e-6)


def test_multi_match_must_not_on_field_the_text_misses(spark, multifield):
    """A must_not term is analyzed on EVERY queried field, also on a
    field where the query text analyzes to nothing (a stopword-only
    query on the stop field): that field's exclusion pairs still score
    with its own avgdl, and a doc holding the negative term there is
    excluded."""
    from bugzilla_etl_spark.index import multi_match_search_many
    from bugzilla_etl_spark.tokenize import py_analyze

    d, pdf = multifield
    assert py_analyze("this", "code_v1_stop") == []
    rows = list(zip(pdf["__doc_id"], pdf["content"]))
    excl = {
        doc for doc, text in rows
        if any("impl" in py_analyze(text, c) for c in ("code_v1", "code_v1_stop"))
    }
    full = build_oracle(rows, chain="code_v1").search("this", 10_000)
    want = [(doc, s) for doc, s in full if doc not in excl][:10]
    assert want and len(want) < len(full)
    for ex in ("local", "spark"):
        got = multi_match_search_many(
            spark, d, [(0, "this", 10)], ["content", "content_stop"],
            must_not=["impl"], execution=ex,
        )[0]
        assert [x for x, _ in got] == [x for x, _ in want], ex
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-6)


def test_positions_on_shingled_chain_warns(spark, small_corpus, tmp_path):
    """Round 5: positions over a shingled chain double the field's block
    bytes for no phrase benefit (shingles already encode adjacency) —
    the build warns loudly but does not forbid."""
    import warnings

    from bugzilla_etl_spark.index import build_index

    d = str(tmp_path / "idx")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        build_index(
            spark, small_corpus.limit(30), d, n_shards=2, n_tb=2,
            extra_fields={"sh": "code_v1_shingle"},
            positions=["sh"],
        )
    assert any("shingled" in str(x.message) for x in w)
