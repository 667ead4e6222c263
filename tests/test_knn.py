"""Index-side exact kNN (ES knn search): vectors stored in the docs
dimension, filtered nearest-neighbor vs a numpy brute-force reference."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import build_index, knn_search, knn_search_many
from bugzilla_etl_spark.index.build import prepare_docs

DIM = 16


def _vec(i: int) -> list[float]:
    r = np.random.default_rng(7_919 * i + 13)
    return [float(x) for x in r.normal(size=DIM)]


@pytest.fixture(scope="module")
def knn_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("knn") / "idx")
    n = small_corpus.count()
    vec_pdf = pd.DataFrame(
        {"path": [r["path"] for r in small_corpus.select("path").collect()]}
    )
    vec_pdf["embedding"] = [
        _vec(i) for i in range(len(vec_pdf))
    ]
    corpus = small_corpus.join(
        spark.createDataFrame(vec_pdf), on="path", how="inner"
    )
    build_index(
        spark, corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        tokenizer="builtin", doc_attrs=["embedding", "lang"],
    )
    rows = (
        prepare_docs(corpus, 4)
        .select("doc_id", "embedding", "lang")
        .collect()
    )
    ref = {
        r["doc_id"]: (np.array(r["embedding"], dtype=np.float64), r["lang"])
        for r in rows
    }
    assert len(ref) == n
    return d, ref


def _brute(ref, q, k, metric, lang=None):
    out = []
    qv = np.asarray(q, dtype=np.float64)
    for d, (v, lg) in ref.items():
        if lang is not None and lg != lang:
            continue
        if metric == "cosine":
            s = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
        elif metric == "dot":
            s = float(qv @ v)
        else:
            s = -float(np.linalg.norm(qv - v))
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_knn_vs_bruteforce(spark, knn_idx, metric):
    d, ref = knn_idx
    q = _vec(9999)
    got = knn_search(spark, d, q, k=12, metric=metric)
    want = _brute(ref, q, 12, metric)
    assert [x for x, _ in got] == [x for x, _ in want]
    for (_g, gs), (_w, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)


def test_knn_filtered_and_batched(spark, knn_idx):
    d, ref = knn_idx
    qs = [(0, _vec(501), 7), (1, _vec(502), 5)]
    got = knn_search_many(
        spark, d, qs, predicate=[("lang", "==", "python")]
    )
    for qid, vec, k in qs:
        want = _brute(ref, vec, k, "cosine", lang="python")
        assert [x for x, _ in got[qid]] == [x for x, _ in want]
    assert all(ref[x][1] == "python" for x, _ in got[0])


def test_knn_validation(spark, knn_idx, small_corpus, tmp_path):
    d, _ = knn_idx
    with pytest.raises(ValueError, match="metric"):
        knn_search(spark, d, _vec(1), metric="manhattan")
    with pytest.raises(ValueError, match="one batch shares one"):
        knn_search_many(spark, d, [(0, [1.0] * DIM, 1),
                                   (1, [1.0] * (DIM + 1), 1)])
    plain = str(tmp_path / "novec")
    build_index(
        spark, small_corpus.limit(10), plain, n_shards=2, n_tb=2,
        tokenizer="builtin",
    )
    with pytest.raises(ValueError, match="no stored vector attr"):
        knn_search(spark, plain, _vec(1))
    with pytest.raises(ValueError, match="dim"):
        knn_search(spark, d, [1.0, 2.0])


def test_knn_nan_vector_keeps_top_k(spark, small_corpus, tmp_path):
    """A stored NaN vector scores NaN under every metric. The
    argpartition cut then landed on the NaN and returned nothing for
    k=1; the full sort ranks NaN last and keeps the best finite doc."""
    d = str(tmp_path / "nan")
    corpus = small_corpus.limit(20)
    vec_pdf = pd.DataFrame(
        {"path": [r["path"] for r in corpus.select("path").collect()]}
    )
    vec_pdf["embedding"] = [_vec(i) for i in range(len(vec_pdf))]
    # planted in Spark: a pandas NaN would arrive as a null element
    nan_vec = F.array(*[F.lit(float("nan"))] * DIM)
    corpus = corpus.join(
        spark.createDataFrame(vec_pdf), on="path", how="inner"
    ).withColumn(
        "embedding",
        F.when(F.col("path") == vec_pdf["path"][0], nan_vec).otherwise(
            F.col("embedding")
        ),
    )
    build_index(
        spark, corpus, d, n_shards=1, n_tb=1, n_sb=1, tokenizer="builtin",
        doc_attrs=["embedding"],
    )
    rows = prepare_docs(corpus, 1).select("doc_id", "embedding").collect()
    finite = {
        r["doc_id"]: (np.array(r["embedding"], dtype=np.float64), None)
        for r in rows
        if not np.isnan(r["embedding"]).any()
    }
    assert len(finite) == len(rows) - 1
    q = _vec(9999)
    for metric in ("cosine", "dot", "l2"):
        got = knn_search(spark, d, q, k=1, metric=metric)
        want = _brute(finite, q, 1, metric)
        assert [x for x, _ in got] == [x for x, _ in want], metric


def test_knn_cli(spark, knn_idx, capsys):
    import json

    from bugzilla_etl_spark.cli import main

    d, ref = knn_idx
    q = _vec(777)
    assert main([
        "knn", "--index", d, "--vector", ",".join(map(str, q)),
        "-k", "5", "--filter", "lang=go",
    ]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert len(rows) == 5
    assert all(ref[r["doc_id"]][1] == "go" for r in rows)


def test_rrf_fuses_lexical_and_vector(spark, knn_idx):
    from bugzilla_etl_spark.index import Bool, bool_search, rrf_search

    d, ref = knn_idx
    q = Bool(must="return", filter=[("lang", "==", "python")])
    vec = _vec(4242)
    got = rrf_search(
        spark, d, q, vec, k=8, rank_constant=60, rank_window=50
    )
    # reference fusion from the two direct rankings
    lex = bool_search(spark, d, q, k=50)
    knn = _brute(ref, vec, 50, "cosine", lang="python")
    fused = {}
    for ranking in (lex, knn):
        for r, (doc, _s) in enumerate(ranking, 1):
            fused[doc] = fused.get(doc, 0.0) + 1.0 / (60 + r)
    want = sorted(fused.items(), key=lambda x: (-x[1], x[0]))[:8]
    assert [d_ for d_, _ in got] == [d_ for d_, _ in want]
    for (_g, gs), (_w, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    # a doc in BOTH windows outranks equal-rank singletons
    both = set(d_ for d_, _ in lex) & set(d_ for d_, _ in knn)
    assert both, "fixture must overlap for the fusion to matter"


def test_rrf_validation(spark, knn_idx):
    from bugzilla_etl_spark.index import Bool, rrf_search

    d, _ = knn_idx
    with pytest.raises(ValueError, match="rank_window"):
        rrf_search(spark, d, Bool(must="x"), _vec(1), k=20, rank_window=5)
    with pytest.raises(ValueError, match="rank_constant"):
        rrf_search(spark, d, Bool(must="x"), _vec(1), rank_constant=0)
