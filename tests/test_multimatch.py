"""ES multi_match across field variants (VERDICT r5 #5): best_fields /
most_fields combination vs a brute-force per-field BM25 reference.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from bugzilla_etl_spark.index import (
    build_index,
    multi_match_search,
    search_many,
)
from bugzilla_etl_spark.index.build import prepare_docs
from bugzilla_etl_spark.oracle import idf, impact
from bugzilla_etl_spark.tokenize import py_analyze

FIELDS = ["content", "sh"]
CHAINS = {"content": "code_v1", "sh": "code_v1_shingle"}
QUERY = "return int fn"


@pytest.fixture(scope="module")
def mm_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mm") / "idx")
    build_index(
        spark, small_corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        extra_fields={"sh": CHAINS["sh"]},
    )
    return d


@pytest.fixture(scope="module")
def mm_ref(spark, small_corpus):
    """Per-field exhaustive BM25 scorer (each field its OWN space)."""
    rows = (
        prepare_docs(small_corpus, 4).select("doc_id", "content", "lang").collect()
    )
    spaces = {}
    for f in FIELDS:
        toks = {r["doc_id"]: py_analyze(r["content"], CHAINS[f]) for r in rows}
        dls = {d: len(ts) for d, ts in toks.items()}
        n = len(toks)
        avgdl = sum(dls.values()) / n
        dfs = Counter(t for ts in toks.values() for t in set(ts))
        spaces[f] = (toks, dls, n, avgdl, dfs)
    langs = {r["doc_id"]: r["lang"] for r in rows}

    def field_score(f, doc, text):
        toks, dls, n, avgdl, dfs = spaces[f]
        s = 0.0
        for t in sorted(set(py_analyze(text, CHAINS[f]))):
            tf = toks[doc].count(t)
            if tf and dfs.get(t):
                s += idf(n, dfs[t]) * impact(tf, dls[doc], avgdl)
        return s

    def matches(f, doc, text):
        qts = set(py_analyze(text, CHAINS[f]))
        return bool(qts & set(spaces[f][0][doc]))

    all_docs = list(langs)
    return {
        "score": field_score,
        "matches": matches,
        "docs": all_docs,
        "langs": langs,
    }


def _want(mm_ref, combine, k, lang=None):
    out = []
    for d in mm_ref["docs"]:
        if lang and mm_ref["langs"][d] != lang:
            continue
        per = [
            mm_ref["score"](f, d, QUERY)
            for f in FIELDS
            if mm_ref["matches"](f, d, QUERY)
        ]
        if not per:
            continue
        out.append((d, max(per) if combine == "best_fields" else sum(per)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("combine", ["best_fields", "most_fields"])
def test_multi_match_parity(spark, mm_idx, mm_ref, combine):
    got = multi_match_search(spark, mm_idx, QUERY, FIELDS, k=10, combine=combine)
    want = _want(mm_ref, combine, 10)
    assert [d for d, _ in got] == [d for d, _ in want], (got[:3], want[:3])
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, abs_tol=1e-6)


def test_multi_match_with_filter(spark, mm_idx, mm_ref):
    got = multi_match_search(
        spark, mm_idx, QUERY, FIELDS, k=10, combine="most_fields",
        predicate=[("lang", "==", "python")],
    )
    want = _want(mm_ref, "most_fields", 10, lang="python")
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, abs_tol=1e-6)


def test_multi_match_single_field_equals_search(spark, mm_idx):
    mm = multi_match_search(spark, mm_idx, QUERY, ["content"], k=10)
    direct = search_many(spark, mm_idx, [(0, QUERY, 10)])[0]
    assert [d for d, _ in mm] == [d for d, _ in direct]
    for (_, a), (_, b) in zip(mm, direct):
        assert math.isclose(a, b, abs_tol=1e-9)


def test_multi_match_must_not_any_field(spark, mm_idx, mm_ref):
    got = multi_match_search(
        spark, mm_idx, QUERY, FIELDS, k=10, combine="best_fields",
        must_not=["uniq_13"],
    )
    full = _want(mm_ref, "best_fields", 10_000)
    toks13 = {
        d
        for d in mm_ref["docs"]
        if any("uniq_13" in py_analyze("uniq_13", CHAINS[f]) and
              mm_ref["matches"](f, d, "uniq_13") for f in FIELDS)
    }
    want = [(d, s) for d, s in full if d not in toks13][:10]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_multi_match_validation(spark, mm_idx):
    with pytest.raises(ValueError, match="combine"):
        multi_match_search(spark, mm_idx, QUERY, FIELDS, combine="nope")
    with pytest.raises(ValueError, match="at least one"):
        multi_match_search(spark, mm_idx, QUERY, [])
    with pytest.raises(KeyError):
        multi_match_search(spark, mm_idx, QUERY, ["missing_field"])
