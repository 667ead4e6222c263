"""multi_match clauses INSIDE the composable Bool DSL (round-6
follow-on to VERDICT r5 #3): cross-field match clauses composing with
must / must_not / filter / phrase / attr sort through ONE query object.

Engine results vs a brute-force per-field BM25 reference (each field
its own df/avgdl space, exactly the standalone multi_match contract),
plus bit-identical delegation parity for the lone-mm fast path.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import (
    Bool,
    bool_search,
    bool_search_many,
    build_index,
    multi_match_search,
)
from bugzilla_etl_spark.index.boolquery import explain_bool
from bugzilla_etl_spark.index.build import prepare_docs
from bugzilla_etl_spark.oracle import idf, impact
from bugzilla_etl_spark.tokenize import py_analyze

FIELDS = ("content", "sh")
CHAINS = {"content": "code_v1", "sh": "code_v1_shingle"}
QUERY = "return int fn"


@pytest.fixture(scope="module")
def bmm_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("boolmm") / "idx")
    build_index(
        spark,
        small_corpus.withColumn("n_chars", F.length("content")),
        d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        extra_fields={"sh": CHAINS["sh"]},
        doc_attrs=["n_chars"], positions=True,
    )
    return d


@pytest.fixture(scope="module")
def bmm_ref(spark, small_corpus):
    """Brute force: per-field BM25 spaces + gate evaluators mirroring
    Bool's clause semantics (operator/msm applied within each field for
    mm clauses; primary-chain analysis for must/must_not/phrase)."""
    rows = (
        prepare_docs(
            small_corpus.withColumn("n_chars", F.length("content")), 4
        )
        .select("doc_id", "content", "lang", "n_chars")
        .collect()
    )
    spaces = {}
    for f in FIELDS:
        toks = {r["doc_id"]: py_analyze(r["content"], CHAINS[f]) for r in rows}
        dls = {d: len(ts) for d, ts in toks.items()}
        n = len(toks)
        avgdl = sum(dls.values()) / n
        dfs = Counter(t for ts in toks.values() for t in set(ts))
        spaces[f] = (toks, dls, n, avgdl, dfs)
    attrs = {r["doc_id"]: {"lang": r["lang"], "n_chars": r["n_chars"]}
             for r in rows}

    def need_of(terms, operator, msm):
        if operator == "and":
            return len(terms)
        if msm is not None:
            return min(int(msm), len(terms) + 1)
        return 1

    def field_eval(f, doc, text, operator="or", msm=None):
        """-> (gate_ok, bm25_sum) for ONE field of an mm clause."""
        toks, dls, n, avgdl, dfs = spaces[f]
        qts = sorted(set(py_analyze(text, CHAINS[f])))
        if not qts:
            return False, 0.0
        cnt, s = 0, 0.0
        for t in qts:
            tf = toks[doc].count(t)
            if tf and dfs.get(t):
                cnt += 1
                s += idf(n, dfs[t]) * impact(tf, dls[doc], avgdl)
        return cnt >= need_of(qts, operator, msm), s

    def mm_eval(doc, text, combine, operator="or", msm=None):
        """-> (gate_ok, combined_score) over FIELDS."""
        per = []
        for f in FIELDS:
            ok, s = field_eval(f, doc, text, operator, msm)
            if ok:
                per.append(s)
        if not per:
            return False, 0.0
        return True, (max(per) if combine == "best_fields" else sum(per))

    def must_eval(doc, text, operator="or", msm=None):
        """Primary-field must clause -> (gate_ok, bm25_sum)."""
        return field_eval("content", doc, text, operator, msm)

    def has_term(doc, text):
        qts = set(py_analyze(text, CHAINS["content"]))
        return bool(qts & set(spaces["content"][0][doc]))

    return {
        "docs": sorted(attrs), "attrs": attrs,
        "mm": mm_eval, "must": must_eval, "has_term": has_term,
    }


def _topk(scored, k):
    return sorted(scored, key=lambda p: (-p[1], p[0]))[:k]


def _assert_scored(got, want):
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, abs_tol=1e-6)


# ------------------------------------------------- lone-mm fast path
@pytest.mark.parametrize("combine", ["best_fields", "most_fields"])
def test_lone_mm_delegates_identically(spark, bmm_idx, combine):
    via_bool = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, mm_combine=combine),
        k=12,
    )
    direct = multi_match_search(
        spark, bmm_idx, QUERY, list(FIELDS), k=12, combine=combine
    )
    assert via_bool == direct  # bit-identical: same executor


def test_lone_mm_with_filter_delegates(spark, bmm_idx, bmm_ref):
    got = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS,
             filter=[("lang", "==", "python")]),
        k=10,
    )
    direct = multi_match_search(
        spark, bmm_idx, QUERY, list(FIELDS), k=10,
        predicate=[("lang", "==", "python")],
    )
    assert got == direct
    want = []
    for d in bmm_ref["docs"]:
        if bmm_ref["attrs"][d]["lang"] != "python":
            continue
        ok, s = bmm_ref["mm"](d, QUERY, "best_fields")
        if ok:
            want.append((d, s))
    _assert_scored(got, _topk(want, 10))


# ------------------------------------------------- grouped executor
@pytest.mark.parametrize("combine", ["best_fields", "most_fields"])
def test_mm_with_mustnot_grouped(spark, bmm_idx, bmm_ref, combine):
    # must_not forces the grouped executor (delegation requires no neg)
    got = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, mm_combine=combine,
             must_not="stream"),
        k=10,
    )
    want = []
    for d in bmm_ref["docs"]:
        if bmm_ref["has_term"](d, "stream"):
            continue
        ok, s = bmm_ref["mm"](d, QUERY, combine)
        if ok:
            want.append((d, s))
    assert want, "vacuous: must_not excluded nothing matchable"
    _assert_scored(got, _topk(want, 10))


def test_mm_operator_and(spark, bmm_idx, bmm_ref):
    got = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, operator="and"),
        k=10,
    )
    want = []
    for d in bmm_ref["docs"]:
        ok, s = bmm_ref["mm"](d, QUERY, "best_fields", operator="and")
        if ok:
            want.append((d, s))
    or_docs = sum(
        1 for d in bmm_ref["docs"] if bmm_ref["mm"](d, QUERY, "best_fields")[0]
    )
    assert 0 < len(want) < or_docs, "and-gate must actually prune"
    _assert_scored(got, _topk(want, 10))


def test_mm_min_should_match(spark, bmm_idx, bmm_ref):
    got = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, min_should_match=2),
        k=10,
    )
    want = []
    for d in bmm_ref["docs"]:
        ok, s = bmm_ref["mm"](d, QUERY, "best_fields", msm=2)
        if ok:
            want.append((d, s))
    assert want
    _assert_scored(got, _topk(want, 10))


def test_mm_composes_with_must_scores_add(spark, bmm_idx, bmm_ref):
    got = bool_search(
        spark, bmm_idx,
        Bool(must="switch", multi_match=QUERY, mm_fields=FIELDS,
             mm_combine="most_fields"),
        k=10,
    )
    want = []
    for d in bmm_ref["docs"]:
        mok, ms = bmm_ref["must"](d, "switch")
        xok, xs = bmm_ref["mm"](d, QUERY, "most_fields")
        if mok and xok:
            want.append((d, ms + xs))
    assert want
    _assert_scored(got, _topk(want, 10))


def test_mm_with_filter_and_mustnot(spark, bmm_idx, bmm_ref):
    got = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, must_not="stream",
             filter=[("n_chars", ">=", 1500)]),
        k=10,
    )
    want = []
    for d in bmm_ref["docs"]:
        if bmm_ref["attrs"][d]["n_chars"] < 1500:
            continue
        if bmm_ref["has_term"](d, "stream"):
            continue
        ok, s = bmm_ref["mm"](d, QUERY, "best_fields")
        if ok:
            want.append((d, s))
    assert want
    _assert_scored(got, _topk(want, 10))


def test_mm_attr_sorted_gates_only(spark, bmm_idx, bmm_ref):
    got = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, operator="and"),
        k=8, sort_by=("n_chars", "desc"),
    )
    match = [
        d for d in bmm_ref["docs"]
        if bmm_ref["mm"](d, QUERY, "best_fields", operator="and")[0]
    ]
    want = sorted(match, key=lambda d: (-bmm_ref["attrs"][d]["n_chars"], d))[:8]
    assert [d for d, _ in got] == want
    assert [k for _, k in got] == [bmm_ref["attrs"][d]["n_chars"] for d in want]


def test_two_mm_clauses_both_gate(spark, bmm_idx, bmm_ref):
    got = bool_search(
        spark, bmm_idx,
        Bool(multi_match=("return int", "switch case"), mm_fields=FIELDS,
             mm_combine="most_fields"),
        k=10,
    )
    want = []
    for d in bmm_ref["docs"]:
        ok1, s1 = bmm_ref["mm"](d, "return int", "most_fields")
        ok2, s2 = bmm_ref["mm"](d, "switch case", "most_fields")
        if ok1 and ok2:
            want.append((d, s1 + s2))
    one = sum(
        1 for d in bmm_ref["docs"]
        if bmm_ref["mm"](d, "return int", "most_fields")[0]
    )
    assert 0 < len(want) < one, "second clause must actually prune"
    _assert_scored(got, _topk(want, 10))


def test_mm_batch_mixed_with_plain_bools(spark, bmm_idx):
    """One batch: a plain must, a lone mm, an mm+must_not — the grouped
    executor and per-query spec routing keep each independent."""
    out = bool_search_many(
        spark, bmm_idx,
        [
            (0, Bool(must="merge"), 5),
            (1, Bool(multi_match=QUERY, mm_fields=FIELDS,
                     must_not="stream"), 5),
            (2, Bool(multi_match=QUERY, mm_fields=FIELDS,
                     operator="and"), 5),
        ],
    )
    solo = {
        qid: bool_search(spark, bmm_idx, q, k=5)
        for qid, q in [
            (0, Bool(must="merge")),
            (1, Bool(multi_match=QUERY, mm_fields=FIELDS,
                     must_not="stream")),
            (2, Bool(multi_match=QUERY, mm_fields=FIELDS, operator="and")),
        ]
    }
    for qid in (0, 1, 2):
        assert [d for d, _ in out[qid]] == [d for d, _ in solo[qid]]
        for (_, a), (_, b) in zip(out[qid], solo[qid]):
            assert math.isclose(a, b, abs_tol=1e-9)


# ------------------------------------------------- explain / validation
def test_explain_bool_mm_is_sparkless(bmm_idx):
    plan = explain_bool(
        bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, must_not="stream"),
    )
    mm = [c for c in plan["clauses"] if c["kind"] == "multi_match"]
    assert len(mm) == 1
    assert {f["field"] for f in mm[0]["fields"]} == set(FIELDS)
    assert all(
        any(df > 0 for df in f["dfs"].values()) for f in mm[0]["fields"]
    )
    assert plan["matchable"]
    assert plan["estimated_postings"] > 0
    assert mm[0]["generator_estimate"] > 0


def test_mm_unanalyzable_text_matches_nothing(spark, bmm_idx):
    assert bool_search(
        spark, bmm_idx,
        Bool(multi_match="!!! ???", mm_fields=FIELDS), k=5,
    ) == []
    plan = explain_bool(bmm_idx, Bool(multi_match="!!! ???", mm_fields=FIELDS))
    assert not plan["matchable"]


def test_mm_validation_rails(spark, bmm_idx):
    with pytest.raises(ValueError, match="mm_fields"):
        Bool(multi_match=QUERY)
    with pytest.raises(ValueError, match="duplicate"):
        Bool(multi_match=QUERY, mm_fields=("content", "content"))
    with pytest.raises(ValueError, match="mm_combine"):
        Bool(multi_match=QUERY, mm_fields=FIELDS, mm_combine="cross_fields")


def test_mm_tie_breaker_dismax(spark, bmm_idx, bmm_ref):
    """ES dis_max: best_fields + tie_breaker scores
    best + tb * (sum of the other satisfied fields). tb=0 equals plain
    best_fields bit-for-bit; tb=1 equals most_fields for all-satisfied
    docs."""
    tb = 0.3
    got = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, mm_tie_breaker=tb),
        k=12,
    )
    want = []
    for d in bmm_ref["docs"]:
        # best + tb * rest, via the ref's two combine modes
        ok_b, best = bmm_ref["mm"](d, QUERY, "best_fields")
        _ok_s, total = bmm_ref["mm"](d, QUERY, "most_fields")
        if ok_b:
            want.append((d, best + tb * (total - best)))
    want = _topk(want, 12)
    _assert_scored(got, want)
    assert got
    # tb=0 == plain best_fields (same executor, bit-identical)
    plain = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS), k=12,
    )
    tb0 = bool_search(
        spark, bmm_idx,
        Bool(multi_match=QUERY, mm_fields=FIELDS, mm_boosts=[1.0]), k=12,
    )
    assert plain == tb0


def test_mm_clause_boost_scales(spark, bmm_idx):
    plain = bool_search(
        spark, bmm_idx,
        Bool(must="return", multi_match=QUERY, mm_fields=FIELDS), k=12,
    )
    boosted = bool_search(
        spark, bmm_idx,
        Bool(must="return", must_boosts=[1.0],
             multi_match=QUERY, mm_fields=FIELDS, mm_boosts=[2.0]),
        k=200,
    )
    # gate identical; every mm contribution doubled
    assert {d for d, _ in plain} <= {d for d, _ in boosted}
