"""End-to-end index build + query vs the exhaustive pure-Python oracle.

FIXTURES.md invariants 1, 3, 5: sha256 parity, rank-identical top-k
(ids AND scores), determinism across parallelism/configs.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import (
    build_index,
    search,
    search_many,
)
from bugzilla_etl_spark.index.build import prepare_docs, verify_sha256
from bugzilla_etl_spark.oracle import build_oracle

QUERIES = [
    (1, "return int", 10),
    (2, "uniq_13", 10),          # df==1 rare term
    (3, "r5_sym1 fn impl", 10),  # repo-local identifiers + keywords
    (4, "zzz_not_a_term", 10),   # zero hits
    (5, "for", 10),              # single hot term (score ties likely)
    (6, "def return if for int", 100),
    (7, "uniq_23 uniq_33", 1),
]


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, spark, small_corpus):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(
        spark, small_corpus, d, n_shards=4, n_tb=4, n_salts=2, block_size=16,
    )
    return d


@pytest.fixture(scope="module")
def oracle(spark, small_corpus):
    rows = prepare_docs(small_corpus, 4).select("doc_id", "content").collect()
    return build_oracle((r["doc_id"], r["content"]) for r in rows)


def _assert_rank_identical(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, abs_tol=1e-6), (gd, gs, ws)


def test_sha256_invariant(spark, small_corpus, index_dir):
    assert verify_sha256(spark, small_corpus, index_dir) == small_corpus.count()


def test_rank_identical_vs_oracle(spark, index_dir, oracle):
    res = search_many(spark, index_dir, QUERIES)
    for qid, text, k in QUERIES:
        want = oracle.search(text, k)
        _assert_rank_identical(res[qid], want)


def test_zero_hit_query(spark, index_dir):
    assert search(spark, index_dir, "zzz_not_a_term") == []


def test_shingled_analyzer_end_to_end(spark, small_corpus, tmp_path):
    """Second field variant: an index built with the stop+shingle chain
    answers phrase-ish queries rank-identical to an oracle using the
    same chain; the query is analyzed with the INDEX's chain (bigrams
    like return_int score exact adjacencies)."""
    d = str(tmp_path / "idx_sh")
    build_index(
        spark, small_corpus, d, n_shards=4, n_tb=4, n_salts=2, block_size=16,
        analyzer="code_v1_shingle",
    )
    rows = prepare_docs(small_corpus, 4).select("doc_id", "content").collect()
    oracle = build_oracle(
        ((r["doc_id"], r["content"]) for r in rows), chain="code_v1_shingle"
    )
    shingle_queries = [
        (1, "return int", 10),       # bigram return_int likely present
        (2, "the for", 10),          # 'the' is stopworded out
        (3, "fn impl struct", 10),
    ]
    res = search_many(spark, d, shingle_queries)
    for qid, text, k in shingle_queries:
        _assert_rank_identical(res[qid], oracle.search(text, k))
    # sanity: the analyzed query really contains a bigram term
    from bugzilla_etl_spark.tokenize import py_analyze

    assert "return_int" in py_analyze("return int", "code_v1_shingle")


def test_deterministic_across_config(spark, small_corpus, tmp_path, oracle):
    """Different shard/salt/block configs must produce identical query
    results (FIXTURES.md invariant 5)."""
    d2 = str(tmp_path / "idx2")
    build_index(
        spark, small_corpus, d2, n_shards=2, n_tb=8, n_salts=1, block_size=128,
    )
    res = search_many(spark, d2, QUERIES)
    for qid, text, k in QUERIES:
        _assert_rank_identical(res[qid], oracle.search(text, k))


def test_fetch_docs_source_lookup(spark, small_corpus, tmp_path):
    """Round 5: the ES _source fetch — result ids resolve to stored
    docs-dimension rows driver-side (pyarrow isin pushdown, no Spark
    job), in request order, tombstones excluded, doc_attrs included."""
    from pyspark.sql import functions as F

    from bugzilla_etl_spark.index import (
        build_index,
        fetch_docs,
        incremental_update,
        search,
    )
    from bugzilla_etl_spark.index.build import delete_docs, prepare_docs

    d = str(tmp_path / "idx")
    corpus = small_corpus.limit(80).withColumn(
        "stars", (F.xxhash64("path") % 100 + 100) % 100
    )
    build_index(spark, corpus, d, n_shards=2, n_tb=2,
                doc_attrs=["stars"])
    inc = small_corpus.limit(120).subtract(small_corpus.limit(80)).withColumn(
        "stars", F.lit(7)
    )
    incremental_update(spark, inc, d)
    rows = {
        r["doc_id"]: r
        for r in prepare_docs(corpus.unionByName(inc), 2)
        .select("doc_id", "repo", "path", "stars")
        .collect()
    }
    hits = search(spark, d, "return int", k=8)
    ids = [h for h, _ in hits]
    got = fetch_docs(d, ids)
    assert got["doc_id"].tolist() == ids  # request order, both segments
    for _, r in got.iterrows():
        want = rows[r["doc_id"]]
        assert (r["repo"], r["path"], r["stars"]) == (
            want["repo"], want["path"], want["stars"]
        )
    # column projection + unknown id absent + tombstone excluded
    sub = fetch_docs(d, ids[:3] + [123456789], columns=["path"])
    assert list(sub.columns) == ["doc_id", "path"]
    assert sub["doc_id"].tolist() == ids[:3]
    delete_docs(spark, d, [ids[0]], auto_compact_ratio=None)
    assert fetch_docs(d, ids[:2])["doc_id"].tolist() == ids[1:2]
