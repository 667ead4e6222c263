"""Composable bool DSL + filter-only + sort/search_after (VERDICT r5
#1/#6): engine results vs a brute-force Python reference over the same
analyzed corpus. Covers: match_all + filter ordering/pagination, clause
composition (filter + must_not + phrase through ONE object), must +
phrase, multi-must, delegation parity with search_many, attr-sorted
scored queries, and the validation rails.
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
    match_all_search,
    search_many,
)
from bugzilla_etl_spark.index.build import prepare_docs
from bugzilla_etl_spark.oracle import idf, impact
from bugzilla_etl_spark.tokenize import py_analyze


@pytest.fixture(scope="module")
def attr_corpus(spark, small_corpus):
    return small_corpus.withColumn("n_chars", F.length("content"))


@pytest.fixture(scope="module")
def bool_idx(spark, attr_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("boolq") / "idx")
    build_index(
        spark, attr_corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["n_chars"], positions=True,
    )
    return d


@pytest.fixture(scope="module")
def ref(spark, attr_corpus):
    """Brute-force reference: doc_id -> (tokens, lang, n_chars)."""
    rows = (
        prepare_docs(attr_corpus, 4)
        .select("doc_id", "content", "lang", "n_chars")
        .collect()
    )
    docs = {
        r["doc_id"]: {
            "toks": py_analyze(r["content"], "code_v1"),
            "lang": r["lang"],
            "n_chars": r["n_chars"],
        }
        for r in rows
    }
    n = len(docs)
    dls = {d: len(v["toks"]) for d, v in docs.items()}
    avgdl = sum(dls.values()) / n
    dfs = Counter(t for v in docs.values() for t in set(v["toks"]))

    def contrib(doc, term):
        tf = docs[doc]["toks"].count(term)
        if tf == 0:
            return 0.0
        return idf(n, dfs[term]) * impact(tf, dls[doc], avgdl)

    def has_phrase(doc, seq, slop=0):
        toks = docs[doc]["toks"]
        L = len(seq)
        for i in range(len(toks) - L + 1):
            if toks[i] != seq[0]:
                continue
            if slop == 0:
                if toks[i : i + L] == seq:
                    return True
            else:
                cur = i
                ok = True
                for t in seq[1:]:
                    nxt = next(
                        (j for j in range(cur + 1, len(toks)) if toks[j] == t),
                        None,
                    )
                    if nxt is None:
                        ok = False
                        break
                    cur = nxt
                if ok and (cur - i - (L - 1)) <= slop:
                    return True
        return False

    return {"docs": docs, "contrib": contrib, "has_phrase": has_phrase}


def _assert_scored(got, want):
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, abs_tol=1e-6)


# ------------------------------------------------------------ match_all
def test_match_all_filter_only_sorted(spark, bool_idx, ref):
    pred = [("lang", "==", "python"), ("n_chars", ">=", 2000)]
    got = match_all_search(spark, bool_idx, pred, k=15)
    want = sorted(
        d
        for d, v in ref["docs"].items()
        if v["lang"] == "python" and v["n_chars"] >= 2000
    )[:15]
    assert [d for d, _ in got] == want
    assert all(key == d for d, key in got)  # sort key IS doc_id


def test_match_all_pagination_no_overlap_no_gap(spark, bool_idx, ref):
    pred = [("lang", "==", "python")]
    want = sorted(d for d, v in ref["docs"].items() if v["lang"] == "python")
    pages, after = [], None
    for _ in range(3):
        page = match_all_search(
            spark, bool_idx, pred, k=7, search_after=after
        )
        if not page:
            break
        pages.extend(d for d, _ in page)
        after = page[-1]
    assert pages == want[: len(pages)]
    assert len(pages) == min(21, len(want))
    assert len(set(pages)) == len(pages)  # no overlap


def test_match_all_sort_attr_desc_paged(spark, bool_idx, ref):
    pred = [("lang", "==", "go")]
    want = sorted(
        (
            (v["n_chars"], d)
            for d, v in ref["docs"].items()
            if v["lang"] == "go"
        ),
        key=lambda x: (-x[0], x[1]),
    )
    p1 = match_all_search(
        spark, bool_idx, pred, k=5, sort_by=("n_chars", "desc")
    )
    assert [(k, d) for d, k in p1] == want[:5]
    p2 = match_all_search(
        spark, bool_idx, pred, k=5, sort_by=("n_chars", "desc"),
        search_after=(p1[-1][1], p1[-1][0]),
    )
    assert [(k, d) for d, k in p2] == want[5:10]


def test_match_all_without_sort_raises(spark, bool_idx):
    with pytest.raises(ValueError, match="sort_by"):
        bool_search(spark, bool_idx, Bool(filter=[("lang", "==", "go")]))


def test_search_after_bad_shape(spark, bool_idx):
    with pytest.raises(ValueError, match="last_key_or_score"):
        bool_search(
            spark, bool_idx, Bool(must="return"), search_after=(1, 2, 3)
        )


def _walk_pages(spark, bool_idx, q, page_k):
    pages, cursor = [], None
    for _ in range(1000):
        page = bool_search(
            spark, bool_idx, q, k=page_k, search_after=cursor
        )
        if not page:
            break
        pages.extend(page)
        # hits are (doc_id, score); the cursor mirrors the attr-sort
        # (key, doc_id) convention: (last_score, last_doc_id)
        cursor = (page[-1][1], page[-1][0])
    return pages


def test_search_after_score_full_walk(spark, bool_idx):
    """ES _score pagination: 7-a-page walk reproduces the one-shot
    ranking exactly — no overlap, no gap — even though page 1 takes
    the delegated fast path and later pages the grouped executor."""
    q = Bool(must="return")
    full = bool_search(spark, bool_idx, q, k=10_000)
    assert len(full) > 20, "fixture must have enough matches"
    assert _walk_pages(spark, bool_idx, q, 7) == full


def test_search_after_score_composed_shapes(spark, bool_idx):
    """Score cursors page boosted and function_score rankings too
    (always the grouped executor; the cursor applies to the SHAPED
    score, which is what pages see)."""
    for q in (
        Bool(must=["return", "int"], must_boosts=[2.0, 1.0]),
        Bool(
            must="return",
            functions=({"field_value_factor": {"field": "n_chars",
                                               "modifier": "ln1p"}},),
        ),
    ):
        full = bool_search(spark, bool_idx, q, k=10_000)
        assert len(full) > 10
        assert _walk_pages(spark, bool_idx, q, 9) == full


def test_search_after_pages_gated_shapes_exactly(spark, bool_idx):
    """Pages of a gated query equal its uncut ranking bit for bit (same
    ids, order and ``==`` scores): an AND with a should term that is
    also a must term (it counts twice), an AND with a disjoint should
    term, and a phrase_freq phrase. The first page and the cursor pages
    run the same scorer."""
    for q in (
        Bool(must="return int", operator="and", should="int"),
        Bool(must="return int", operator="and", should="fn"),
        Bool(phrase="return int", phrase_scoring="phrase_freq"),
    ):
        full = bool_search(spark, bool_idx, q, k=10_000)
        assert len(full) > 14, q
        assert _walk_pages(spark, bool_idx, q, 7) == full, q


def test_lowered_entries_equal_bool(spark, bool_idx):
    """search_many AND/msm with should, phrase_search_many and
    multi_match_search_many return exactly the hits of the same Bool."""
    from bugzilla_etl_spark.index import multi_match_search_many, phrase_search_many

    pairs = [
        (search_many(spark, bool_idx, [(0, "return int", 50)], operator="and",
                     should=["int", "fn"])[0],
         Bool(must="return int", operator="and", should=("int", "fn"))),
        (search_many(spark, bool_idx, [(0, "return int fn", 50)],
                     min_should_match=2, should=["struct"])[0],
         Bool(must="return int fn", min_should_match=2, should="struct")),
        (phrase_search_many(spark, bool_idx, [(0, "return int", 50)],
                            scoring="phrase_freq", must_not=["fn"])[0],
         Bool(phrase="return int", phrase_scoring="phrase_freq", must_not="fn")),
        (multi_match_search_many(spark, bool_idx, [(0, "return int", 50)],
                                 ["content"], combine="most_fields")[0],
         Bool(multi_match="return int", mm_fields=("content",),
              mm_combine="most_fields")),
    ]
    for got, q in pairs:
        assert got and got == bool_search(spark, bool_idx, q, k=50), q


# ------------------------------------------------------- composition
def test_compose_filter_mustnot_phrase(spark, bool_idx, ref):
    q = Bool(
        phrase="return int",
        must_not=["fn"],
        filter=[("lang", "==", "python")],
    )
    got = bool_search(spark, bool_idx, q, k=10)
    cands = [
        d
        for d, v in ref["docs"].items()
        if v["lang"] == "python"
        and "fn" not in v["toks"]
        and ref["has_phrase"](d, ["return", "int"])
    ]
    want = sorted(
        (
            (d, ref["contrib"](d, "return") + ref["contrib"](d, "int"))
            for d in cands
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    _assert_scored(got, want)
    assert got, "fixture must produce matches"


def test_compose_must_plus_phrase(spark, bool_idx, ref):
    q = Bool(must="for", phrase="return int")
    got = bool_search(spark, bool_idx, q, k=10)
    cands = [
        d
        for d, v in ref["docs"].items()
        if "for" in v["toks"] and ref["has_phrase"](d, ["return", "int"])
    ]
    want = sorted(
        (
            (
                d,
                ref["contrib"](d, "for")
                + ref["contrib"](d, "return")
                + ref["contrib"](d, "int"),
            )
            for d in cands
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    _assert_scored(got, want)
    assert got


def test_compose_two_must_clauses(spark, bool_idx, ref):
    # operator=or within each clause; both clauses must match
    q = Bool(must=["uniq_13 uniq_23", "return"])
    got = bool_search(spark, bool_idx, q, k=10)
    cands = [
        d
        for d, v in ref["docs"].items()
        if ("uniq_13" in v["toks"] or "uniq_23" in v["toks"])
        and "return" in v["toks"]
    ]
    want = sorted(
        (
            (
                d,
                ref["contrib"](d, "uniq_13")
                + ref["contrib"](d, "uniq_23")
                + ref["contrib"](d, "return"),
            )
            for d in cands
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    _assert_scored(got, want)
    assert got


def test_compose_phrase_slop_with_filter(spark, bool_idx, ref):
    q = Bool(phrase="return int", slop=2, filter=[("lang", "==", "java")])
    got = bool_search(spark, bool_idx, q, k=10)
    cands = [
        d
        for d, v in ref["docs"].items()
        if v["lang"] == "java"
        and ref["has_phrase"](d, ["return", "int"], slop=2)
    ]
    want = sorted(
        (
            (d, ref["contrib"](d, "return") + ref["contrib"](d, "int"))
            for d in cands
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    _assert_scored(got, want)


# ------------------------------------------------------- delegation
def test_single_clause_delegates_identically(spark, bool_idx):
    direct = search_many(spark, bool_idx, [(0, "uniq_13 return", 10)])[0]
    via_bool = bool_search(spark, bool_idx, Bool(must="uniq_13 return"), k=10)
    assert via_bool == direct


def test_should_only_bool_acts_as_or(spark, bool_idx):
    direct = search_many(spark, bool_idx, [(0, "uniq_13 return", 10)])[0]
    via_bool = bool_search(
        spark, bool_idx, Bool(should=["uniq_13", "return"]), k=10
    )
    assert via_bool == direct


def test_must_and_operator_composed_with_filter(spark, bool_idx, ref):
    q = Bool(
        must="return int for", operator="and",
        filter=[("n_chars", ">=", 3000)],
    )
    got = bool_search(spark, bool_idx, q, k=10)
    cands = [
        d
        for d, v in ref["docs"].items()
        if v["n_chars"] >= 3000
        and all(t in v["toks"] for t in ("return", "int", "for"))
    ]
    want = sorted(
        (
            (
                d,
                sum(ref["contrib"](d, t) for t in ("for", "int", "return")),
            )
            for d in cands
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    _assert_scored(got, want)


# ------------------------------------------------ scored gate + attr sort
def test_scored_gate_sorted_by_attr(spark, bool_idx, ref):
    q = Bool(must="uniq_13 uniq_23 uniq_33")
    got = bool_search(spark, bool_idx, q, k=10, sort_by=("n_chars", "asc"))
    cands = [
        d
        for d, v in ref["docs"].items()
        if any(t in v["toks"] for t in ("uniq_13", "uniq_23", "uniq_33"))
    ]
    want = sorted(((ref["docs"][d]["n_chars"], d) for d in cands))[:10]
    assert [(k, d) for d, k in got] == want
    assert got


def test_phrase_gate_sorted_by_attr(spark, bool_idx, ref):
    q = Bool(phrase="return int", filter=[("lang", "==", "c")])
    got = bool_search(spark, bool_idx, q, k=8, sort_by=("n_chars", "desc"))
    cands = [
        d
        for d, v in ref["docs"].items()
        if v["lang"] == "c" and ref["has_phrase"](d, ["return", "int"])
    ]
    want = sorted(
        ((ref["docs"][d]["n_chars"], d) for d in cands),
        key=lambda x: (-x[0], x[1]),
    )[:8]
    assert [(k, d) for d, k in got] == want


def test_explain_bool_is_sparkless(bool_idx):
    from bugzilla_etl_spark.index.boolquery import explain_bool

    q = Bool(must="return int", phrase="return int",
             must_not=["fn"], filter=[("lang", "==", "python")])
    out = explain_bool(bool_idx, q)
    kinds = [c["kind"] for c in out["clauses"]]
    assert kinds == ["match", "phrase"]
    assert out["matchable"] and not out["match_all"]
    assert out["estimated_postings"] > 0
    assert out["execution"] in ("local", "spark")
    assert out["rank"] == {"by": "_score"}
    # unmatchable clause flips the flag and zeroes the generator
    out2 = explain_bool(bool_idx, Bool(must="zzz_nope return", operator="and"))
    assert not out2["matchable"]
    # match_all + sort introspects the docs-dimension path
    out3 = explain_bool(
        bool_idx, Bool(filter=[("lang", "==", "go")]),
        sort_by=("n_chars", "desc"),
    )
    assert out3["match_all"] and out3["rank"]["by"] == "n_chars"
    assert out3["estimated_postings"] >= out3["n_docs"]


def test_explain_bool_matches_executor(spark, bool_idx, monkeypatch):
    """explain_bool's work items, estimate, predicted costs (so the unit
    cost) and route are the ones the executor takes on the same request
    (a spy on the route model and the fan-out), for either route: a
    composed query, AND + should, a lone multi_match, plain OR (the
    MaxScore delegation), should-only, phrase + should + negative."""
    from bugzilla_etl_spark.index import query as Q
    from bugzilla_etl_spark.index.boolquery import explain_bool

    real_route, real_tasks = Q.route, Q.bucket_tasks_df
    seen = []

    def spy_route(n_work, est, *a, **kw):
        out = real_route(n_work, est, *a, **kw)
        seen.append({"work_items": n_work, "estimated_postings": est,
                     "local_ms": round(out[1], 1), "spark_ms": round(out[2], 1),
                     "execution": "local"})
        return out

    def spy_tasks(*a, **kw):
        seen[-1]["execution"] = "spark"
        return real_tasks(*a, **kw)

    monkeypatch.setattr(Q, "route", spy_route)
    monkeypatch.setattr(Q, "bucket_tasks_df", spy_tasks)
    wave = Q.WAVE_MS
    for q in (
        Bool(must="return int", phrase="return int",
             must_not=["fn"], filter=[("lang", "==", "python")]),
        Bool(must="return int", operator="and", should="fn"),
        Bool(multi_match="return int", mm_fields=("content",)),
        Bool(must="return int fn"),
        Bool(should="return fn"),
        Bool(phrase="return int", should="fn", negative="struct"),
    ):
        routes = set()
        for wave_ms in (wave, 0.0):
            monkeypatch.setattr(Q, "WAVE_MS", wave_ms)
            out = explain_bool(bool_idx, q)
            seen.clear()
            assert bool_search(spark, bool_idx, q, k=10)
            assert len(seen) == 1, (q, seen)
            assert {k: out[k] for k in seen[0]} == seen[0], q
            routes.add(out["execution"])
        assert routes == {"local", "spark"}, q


def test_should_only_with_sort_still_gates(spark, bool_idx, ref):
    """ES bool-with-only-should gates matching (msm=1) even when results
    rank by an attribute — it must NOT degrade to match_all."""
    q = Bool(should=["uniq_13", "uniq_23"])
    got = bool_search(spark, bool_idx, q, k=50, sort_by=("n_chars", "asc"))
    cands = [
        d
        for d, v in ref["docs"].items()
        if "uniq_13" in v["toks"] or "uniq_23" in v["toks"]
    ]
    want = sorted(((ref["docs"][d]["n_chars"], d) for d in cands))[:50]
    assert [(k, d) for d, k in got] == want
    assert 0 < len(got) < 20  # gated, not the whole corpus


def test_batch_isolates_must_not_and_should(spark, bool_idx):
    """Batched grouped-executor queries with DIFFERENT must_not/should
    sets must each answer exactly as they do solo — regression for the
    cross-query leak where the bucket scorer excluded the batch-UNION
    of neg terms from every query and added every query's should terms
    to every score."""
    from bugzilla_etl_spark.index import bool_search_many

    # two must clauses -> grouped executor (no single-clause delegation)
    qs = [
        Bool(must=["return", "int fn"], must_not=["for"]),
        Bool(must=["return", "int fn"]),
        Bool(must=["return", "int fn"], should="for"),
        Bool(must=["return", "int fn"], should="if"),
    ]
    solos = [bool_search(spark, bool_idx, q, k=10) for q in qs]
    batch = bool_search_many(
        spark, bool_idx, [(i, q, 10) for i, q in enumerate(qs)]
    )
    for i, solo in enumerate(solos):
        assert batch[i] == solo, i
    assert solos[0] != solos[2], "fixture: neg/should must change results"
    # the same isolation for attr-sorted ranking (gate-side neg only)
    sorted_solos = [
        bool_search_many(
            spark, bool_idx, [(0, q, 10)], sort_by=("n_chars", "desc")
        )[0]
        for q in qs[:2]
    ]
    sorted_batch = bool_search_many(
        spark, bool_idx, [(i, q, 10) for i, q in enumerate(qs[:2])],
        sort_by=("n_chars", "desc"),
    )
    for i, solo in enumerate(sorted_solos):
        assert sorted_batch[i] == solo, i
    assert sorted_solos[0] != sorted_solos[1]


# --------------------------------------------------------- clause boosts
def test_clause_boosts_weight_scores(spark, bool_idx, ref):
    """ES clause ``boost``: each clause's BM25 contribution multiplies
    by its weight; gating is unchanged (a boost never adds or removes
    matches)."""
    q = Bool(
        must=["for", "return int"],
        must_boosts=[3.0, 1.0],
        phrase="return int",
        phrase_boosts=[2.0],
        should="if",
        should_boost=0.5,
    )
    got = bool_search(spark, bool_idx, q, k=10)
    cands = [
        d
        for d, v in ref["docs"].items()
        if "for" in v["toks"]
        and ("return" in v["toks"] or "int" in v["toks"])
        and ref["has_phrase"](d, ["return", "int"])
    ]
    want = sorted(
        (
            (
                d,
                3.0 * ref["contrib"](d, "for")
                + (ref["contrib"](d, "int") + ref["contrib"](d, "return"))
                + 2.0 * (ref["contrib"](d, "int") + ref["contrib"](d, "return"))
                + 0.5 * ref["contrib"](d, "if"),
            )
            for d in cands
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    _assert_scored(got, want)
    assert got
    # same gate, default weights: identical MATCH SET, different order
    plain = bool_search(
        spark, bool_idx,
        Bool(must=["for", "return int"], phrase="return int", should="if"),
        k=10_000,
    )
    boosted_all = bool_search(spark, bool_idx, q, k=10_000)
    assert {d for d, _ in plain} == {d for d, _ in boosted_all}


def test_boosted_single_clause_skips_delegation_but_scales(spark, bool_idx, ref):
    """A single-must query with a boost must return the SAME ranking as
    the unboosted delegated path with every score scaled."""
    plain = bool_search(spark, bool_idx, Bool(must="return int"), k=10)
    boosted = bool_search(
        spark, bool_idx, Bool(must="return int", must_boosts=[2.0]), k=10
    )
    assert [d for d, _ in boosted] == [d for d, _ in plain]
    for (_, bs), (_, ps) in zip(boosted, plain):
        assert math.isclose(bs, 2.0 * ps, rel_tol=1e-12)


def test_should_only_keeps_weight_through_promotion(spark, bool_idx):
    plain = bool_search(spark, bool_idx, Bool(should="return int"), k=10)
    boosted = bool_search(
        spark, bool_idx, Bool(should="return int", should_boost=2.0), k=10
    )
    assert [d for d, _ in boosted] == [d for d, _ in plain]
    for (_, bs), (_, ps) in zip(boosted, plain):
        assert math.isclose(bs, 2.0 * ps, rel_tol=1e-12)


def test_boost_validation(spark):
    with pytest.raises(ValueError, match="align"):
        Bool(must=["a", "b"], must_boosts=[2.0])
    with pytest.raises(ValueError, match="> 0"):
        Bool(must="a", must_boosts=[0.0])
    with pytest.raises(ValueError, match="tie_breaker"):
        Bool(multi_match="a", mm_fields=["content"], mm_tie_breaker=1.5)
    with pytest.raises(ValueError, match="best_fields"):
        Bool(multi_match="a", mm_fields=["content"],
             mm_combine="most_fields", mm_tie_breaker=0.3)


def test_top_hits_sees_boosts(spark, bool_idx, ref):
    """top_hits hit scores flow through the SAME weighted scorer."""
    from bugzilla_etl_spark.index import terms_agg

    q = Bool(must=["for", "return"], must_boosts=[2.0, 1.0])
    got = terms_agg(spark, bool_idx, "lang", query=q, size=100, sub_hits=2)
    assert got
    for key, _n, hits in got:
        per_key = bool_search(
            spark, bool_idx,
            Bool(must=["for", "return"], must_boosts=[2.0, 1.0],
                 filter=[("lang", "==", key)]),
            k=2,
        )
        assert [(d, round(s, 9)) for d, s in hits] == [
            (d, round(s, 9)) for d, s in per_key
        ]


# ------------------------------------------------- ES boosting query
def test_negative_demotes_but_keeps_matches(spark, bool_idx, ref):
    """ES ``boosting`` query: docs matching a negative term KEEP
    matching but their score multiplies by negative_boost — the match
    set is identical to the undemoted query, only the ranking moves
    (must_not would exclude them)."""
    base = Bool(must=["return", "int fn"])
    q = Bool(must=["return", "int fn"], negative="for", negative_boost=0.25)
    plain = bool_search(spark, bool_idx, base, k=10_000)
    got = bool_search(spark, bool_idx, q, k=10_000)
    assert {d for d, _ in plain} == {d for d, _ in got}
    plain_scores = dict(plain)
    demoted = [d for d, _ in got if "for" in ref["docs"][d]["toks"]]
    assert demoted, "fixture: some matches must contain the negative term"
    assert len(demoted) < len(got), "fixture: some matches must escape it"
    for d, s in got:
        want = plain_scores[d] * (0.25 if d in demoted else 1.0)
        assert math.isclose(s, want, rel_tol=1e-12), d


def test_negative_composes_with_boosts_and_phrase(spark, bool_idx, ref):
    """negative demotion applies AFTER the weighted clause-sum — a
    boosted phrase query with a negative term scores exactly
    weight-sum × negative_boost for demoted docs."""
    q = Bool(
        must=["for"],
        must_boosts=[3.0],
        phrase="return int",
        phrase_boosts=[2.0],
        negative="if",
        negative_boost=0.5,
    )
    got = bool_search(spark, bool_idx, q, k=10_000)
    assert got
    for d, s in got:
        raw = 3.0 * ref["contrib"](d, "for") + 2.0 * (
            ref["contrib"](d, "int") + ref["contrib"](d, "return")
        )
        want = raw * (0.5 if "if" in ref["docs"][d]["toks"] else 1.0)
        assert math.isclose(s, want, rel_tol=1e-9), d


def test_negative_batch_isolated(spark, bool_idx):
    """A demoting query batched with a plain one: each answers exactly
    as it does solo (no cross-query demote leak)."""
    from bugzilla_etl_spark.index import bool_search_many

    qs = [
        Bool(must=["return", "int fn"], negative="for", negative_boost=0.1),
        Bool(must=["return", "int fn"]),
        Bool(must=["return", "int fn"], negative="if", negative_boost=0.9),
    ]
    solos = [bool_search(spark, bool_idx, q, k=10) for q in qs]
    batch = bool_search_many(
        spark, bool_idx, [(i, q, 10) for i, q in enumerate(qs)]
    )
    for i, solo in enumerate(solos):
        assert batch[i] == solo, i
    assert solos[0] != solos[1], "fixture: demotion must reorder"


def test_negative_absent_term_is_noop(spark, bool_idx):
    plain = bool_search(spark, bool_idx, Bool(must="return int"), k=10)
    got = bool_search(
        spark, bool_idx,
        Bool(must="return int", negative="zzz_nope", negative_boost=0.1),
        k=10,
    )
    assert got == plain


def test_negative_boost_validation(spark):
    with pytest.raises(ValueError, match="negative_boost"):
        Bool(must="a", negative="b", negative_boost=1.5)
    with pytest.raises(ValueError, match="negative_boost"):
        Bool(must="a", negative="b", negative_boost=-0.1)


def test_explain_bool_reports_negative(bool_idx):
    """Negative-boost terms are reported with their dfs; they are probed
    at the candidates only, so they add nothing to the estimate."""
    from bugzilla_etl_spark.index.boolquery import explain_bool

    q = Bool(must="return int", negative="for", negative_boost=0.3)
    out = explain_bool(bool_idx, q)
    assert out["negative_dfs"]["for"] > 0
    base = explain_bool(bool_idx, Bool(must="return int"))
    assert out["estimated_postings"] == base["estimated_postings"]


# ----------------------------------------------------------- collapse
def _best_per_group(ranked, keyf):
    """ranked: [(doc_id, val)] already in final order -> one
    representative (the first seen) per group key."""
    seen, out = set(), []
    for d, v in ranked:
        g = keyf(d)
        if g in seen:
            continue
        seen.add(g)
        out.append((d, v))
    return out


def test_collapse_scored_best_per_lang(spark, bool_idx, ref):
    q = Bool(must="return int")
    got = bool_search(spark, bool_idx, q, k=3, collapse="lang")
    cands = [
        (d, ref["contrib"](d, "return") + ref["contrib"](d, "int"))
        for d, v in ref["docs"].items()
        if "return" in v["toks"] or "int" in v["toks"]
    ]
    ranked = sorted(cands, key=lambda x: (-x[1], x[0]))
    want = _best_per_group(ranked, lambda d: ref["docs"][d]["lang"])[:3]
    _assert_scored(got, want)
    langs = [ref["docs"][d]["lang"] for d, _ in got]
    assert len(set(langs)) == len(langs) == 3


def test_collapse_composes_with_filter_and_must_not(spark, bool_idx, ref):
    q = Bool(
        must="return", must_not="uniq_13",
        filter=[("n_chars", ">=", 1000)],
    )
    got = bool_search(spark, bool_idx, q, k=5, collapse="lang")
    cands = [
        (d, ref["contrib"](d, "return"))
        for d, v in ref["docs"].items()
        if "return" in v["toks"] and "uniq_13" not in v["toks"]
        and v["n_chars"] >= 1000
    ]
    ranked = sorted(cands, key=lambda x: (-x[1], x[0]))
    want = _best_per_group(ranked, lambda d: ref["docs"][d]["lang"])[:5]
    _assert_scored(got, want)
    assert got


def test_collapse_sorted_by_attr(spark, bool_idx, ref):
    q = Bool(must="return")
    got = bool_search(
        spark, bool_idx, q, k=4, sort_by=("n_chars", "desc"), collapse="lang"
    )
    cands = [d for d, v in ref["docs"].items() if "return" in v["toks"]]
    ranked = sorted(
        ((ref["docs"][d]["n_chars"], d) for d in cands),
        key=lambda x: (-x[0], x[1]),
    )
    want = _best_per_group(
        [(d, key) for key, d in ranked], lambda d: ref["docs"][d]["lang"]
    )[:4]
    assert got == want
    assert got


def test_collapse_match_all_filtered(spark, bool_idx, ref):
    q = Bool(filter=[("n_chars", ">=", 1000)])
    got = bool_search(
        spark, bool_idx, q, k=10, sort_by=("n_chars", "asc"), collapse="lang"
    )
    cands = [d for d, v in ref["docs"].items() if v["n_chars"] >= 1000]
    ranked = sorted((ref["docs"][d]["n_chars"], d) for d in cands)
    want = _best_per_group(
        [(d, key) for key, d in ranked], lambda d: ref["docs"][d]["lang"]
    )[:10]
    assert got == want
    assert got


def test_collapse_null_keys_form_one_group(spark, attr_corpus, tmp_path, ref):
    """Docs missing the collapse attribute collapse into ONE null group
    (ES semantics), across buckets, for a typed nullable doc_attr."""
    df = attr_corpus.withColumn(
        "grp", F.when(F.col("lang") == "java", F.col("lang"))
    )
    d = str(tmp_path / "idx")
    build_index(
        spark, df, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["grp"],
    )
    got = bool_search(spark, d, Bool(must="return"), k=50, collapse="grp")
    cands = [
        (x, ref["contrib"](x, "return"))
        for x, v in ref["docs"].items()
        if "return" in v["toks"]
    ]
    ranked = sorted(cands, key=lambda t: (-t[1], t[0]))
    want = _best_per_group(
        ranked,
        lambda x: "java" if ref["docs"][x]["lang"] == "java" else None,
    )[:50]
    _assert_scored(got, want)
    assert len(got) == 2  # the java group + the single null group


def test_collapse_batch_isolated_ks(spark, bool_idx, ref):
    """One batch, two queries, different k — dedup is per query."""
    out = bool_search_many(
        spark, bool_idx,
        [(0, Bool(must="return"), 2), (1, Bool(must="int"), 4)],
        collapse="lang",
    )
    for qid, term, k in ((0, "return", 2), (1, "int", 4)):
        cands = [
            (d, ref["contrib"](d, term))
            for d, v in ref["docs"].items()
            if term in v["toks"]
        ]
        ranked = sorted(cands, key=lambda x: (-x[1], x[0]))
        want = _best_per_group(ranked, lambda d: ref["docs"][d]["lang"])[:k]
        _assert_scored(out[qid], want)
        assert out[qid]


def test_collapse_validation(spark, bool_idx):
    with pytest.raises(ValueError, match="search_after"):
        bool_search(
            spark, bool_idx, Bool(must="return"), k=5,
            sort_by=("n_chars", "asc"), search_after=(100, 0),
            collapse="lang",
        )
    with pytest.raises(ValueError, match="unknown sort attribute"):
        bool_search(spark, bool_idx, Bool(must="return"), collapse="nope")


# ------------------------------------------------------ function_score
def test_function_score_fvf_multiply(spark, bool_idx, ref):
    q = Bool(
        must="return int",
        functions=[{"field_value_factor":
                    {"field": "n_chars", "modifier": "ln1p"}}],
    )
    got = bool_search(spark, bool_idx, q, k=10)
    cands = [
        (
            d,
            (ref["contrib"](d, "return") + ref["contrib"](d, "int"))
            * math.log1p(v["n_chars"]),
        )
        for d, v in ref["docs"].items()
        if "return" in v["toks"] or "int" in v["toks"]
    ]
    want = sorted(cands, key=lambda x: (-x[1], x[0]))[:10]
    _assert_scored(got, want)
    assert got


def test_function_score_weight_filter_sum_replace(spark, bool_idx, ref):
    q = Bool(
        must="return",
        functions=[
            {"field_value_factor": {"field": "n_chars"}},
            {"weight": 5.0, "filter": [("lang", "==", "java")]},
        ],
        fs_score_mode="sum", fs_boost_mode="replace",
    )
    got = bool_search(spark, bool_idx, q, k=10)
    cands = [
        (d, v["n_chars"] + (5.0 if v["lang"] == "java" else 0.0))
        for d, v in ref["docs"].items()
        if "return" in v["toks"]
    ]
    want = sorted(cands, key=lambda x: (-x[1], x[0]))[:10]
    _assert_scored(got, want)
    assert got


def test_function_score_decay_match_all(spark, bool_idx, ref):
    origin, scale, decay = 2000.0, 800.0, 0.5
    q = Bool(
        filter=[("lang", "==", "c")],
        functions=[{"gauss": {"field": "n_chars", "origin": origin,
                              "scale": scale, "decay": decay}}],
    )
    got = bool_search(spark, bool_idx, q, k=8)
    sigma2 = -(scale * scale) / (2.0 * math.log(decay))
    cands = [
        (d, math.exp(-((abs(v["n_chars"] - origin)) ** 2) / (2.0 * sigma2)))
        for d, v in ref["docs"].items()
        if v["lang"] == "c"
    ]
    # boost_mode multiply over the ES match_all base score of 1.0
    want = sorted(cands, key=lambda x: (-x[1], x[0]))[:8]
    _assert_scored(got, want)
    assert got


def test_function_score_modes(spark, bool_idx, ref):
    """score_mode avg/max/min/first over one fvf + one filtered weight;
    filtered functions only participate where their filter matches."""
    fns = [
        {"field_value_factor": {"field": "n_chars"}},
        {"weight": 100.0, "filter": [("lang", "==", "java")]},
    ]

    def fvals(v):
        vals = [float(v["n_chars"])]
        if v["lang"] == "java":
            vals.append(100.0)
        return vals

    combos = {
        "avg": lambda vs: sum(vs) / len(vs),
        "max": max,
        "min": min,
        "first": lambda vs: vs[0],
    }
    for mode, combine in combos.items():
        q = Bool(must="return", functions=fns, fs_score_mode=mode,
                 fs_boost_mode="replace")
        got = bool_search(spark, bool_idx, q, k=6)
        cands = [
            (d, combine(fvals(v)))
            for d, v in ref["docs"].items()
            if "return" in v["toks"]
        ]
        want = sorted(cands, key=lambda x: (-x[1], x[0]))[:6]
        _assert_scored(got, want)
        assert got, mode


def test_function_score_max_boost_and_sum_mode(spark, bool_idx, ref):
    q = Bool(
        must="return",
        functions=[{"field_value_factor": {"field": "n_chars"}}],
        fs_score_mode="sum", fs_boost_mode="sum", fs_max_boost=1500.0,
    )
    got = bool_search(spark, bool_idx, q, k=6)
    cands = [
        (d, ref["contrib"](d, "return") + min(float(v["n_chars"]), 1500.0))
        for d, v in ref["docs"].items()
        if "return" in v["toks"]
    ]
    want = sorted(cands, key=lambda x: (-x[1], x[0]))[:6]
    _assert_scored(got, want)


def test_function_score_missing_value(spark, attr_corpus, tmp_path, ref):
    """fvf on a NULLABLE numeric attr: missing values substitute the
    spec's ``missing`` before factor/modifier (ES semantics)."""
    df = attr_corpus.withColumn(
        "boost_attr",
        F.when(F.col("lang") == "java", F.col("n_chars").cast("double")),
    )
    d = str(tmp_path / "idx")
    build_index(
        spark, df, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["boost_attr"],
    )
    q = Bool(
        must="return",
        functions=[{"field_value_factor":
                    {"field": "boost_attr", "missing": 7.0}}],
        fs_boost_mode="replace",
    )
    got = bool_search(spark, d, q, k=2000)
    cands = [
        (x, float(v["n_chars"]) if v["lang"] == "java" else 7.0)
        for x, v in ref["docs"].items()
        if "return" in v["toks"]
    ]
    want = sorted(cands, key=lambda t: (-t[1], t[0]))[:2000]
    _assert_scored(got, want)
    assert any(s == 7.0 for _, s in got)


def test_function_score_validation(spark, bool_idx):
    with pytest.raises(ValueError, match="unknown function_score field"):
        bool_search(spark, bool_idx, Bool(
            must="return",
            functions=[{"field_value_factor": {"field": "nope"}}]))
    with pytest.raises(ValueError, match="must be numeric"):
        bool_search(spark, bool_idx, Bool(
            must="return",
            functions=[{"field_value_factor": {"field": "lang"}}]))
    with pytest.raises(ValueError, match="remove sort_by"):
        bool_search(
            spark, bool_idx,
            Bool(must="return",
                 functions=[{"field_value_factor": {"field": "n_chars"}}]),
            sort_by=("n_chars", "asc"),
        )
    with pytest.raises(ValueError, match="modifier"):
        Bool(functions=[{"field_value_factor":
                         {"field": "n_chars", "modifier": "cube"}}])
    with pytest.raises(ValueError, match="fs_score_mode"):
        Bool(fs_score_mode="geometric")
    with pytest.raises(ValueError, match="decay must be in"):
        Bool(functions=[{"gauss": {"field": "n_chars", "origin": 0,
                                   "scale": 10, "decay": 1.5}}])


def test_function_score_composes_with_collapse(spark, bool_idx, ref):
    q = Bool(
        must="return",
        functions=[{"field_value_factor": {"field": "n_chars"}}],
        fs_boost_mode="replace",
    )
    got = bool_search(spark, bool_idx, q, k=3, collapse="lang")
    cands = [
        (d, float(v["n_chars"]))
        for d, v in ref["docs"].items()
        if "return" in v["toks"]
    ]
    ranked = sorted(cands, key=lambda x: (-x[1], x[0]))
    want = _best_per_group(ranked, lambda d: ref["docs"][d]["lang"])[:3]
    _assert_scored(got, want)
    assert got


# ------------------------------------------------------ collapse inner_hits
def test_collapse_inner_hits(spark, bool_idx, ref):
    q = Bool(must="return int")
    got = bool_search(
        spark, bool_idx, q, k=3, collapse="lang", collapse_inner_hits=2
    )
    cands = [
        (d, ref["contrib"](d, "return") + ref["contrib"](d, "int"))
        for d, v in ref["docs"].items()
        if "return" in v["toks"] or "int" in v["toks"]
    ]
    ranked = sorted(cands, key=lambda x: (-x[1], x[0]))
    reps = _best_per_group(ranked, lambda d: ref["docs"][d]["lang"])[:3]
    assert [d for d, _s, _h in got] == [d for d, _ in reps]
    for d, s, hits in got:
        lang = ref["docs"][d]["lang"]
        want_hits = [
            (dd, ss) for dd, ss in ranked if ref["docs"][dd]["lang"] == lang
        ][:2]
        assert [h for h, _ in hits] == [w for w, _ in want_hits], (d, lang)
        for (_, gs), (_, ws) in zip(hits, want_hits):
            assert math.isclose(gs, ws, abs_tol=1e-6)
        assert hits[0] == (d, s)  # the representative leads its group


def test_collapse_inner_hits_null_group(spark, attr_corpus, tmp_path, ref):
    df = attr_corpus.withColumn(
        "grp", F.when(F.col("lang") == "java", F.col("lang"))
    )
    d = str(tmp_path / "idx")
    build_index(
        spark, df, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["grp"],
    )
    got = bool_search(
        spark, d, Bool(must="return"), k=50, collapse="grp",
        collapse_inner_hits=3,
    )
    assert len(got) == 2
    cands = [
        (x, ref["contrib"](x, "return"))
        for x, v in ref["docs"].items()
        if "return" in v["toks"]
    ]
    ranked = sorted(cands, key=lambda t: (-t[1], t[0]))
    for dd, _s, hits in got:
        is_java = ref["docs"][dd]["lang"] == "java"
        want = [
            (x, s) for x, s in ranked
            if (ref["docs"][x]["lang"] == "java") == is_java
        ][:3]
        assert [h for h, _ in hits] == [w for w, _ in want]


def test_collapse_inner_hits_validation(spark, bool_idx):
    with pytest.raises(ValueError, match="requires collapse"):
        bool_search(spark, bool_idx, Bool(must="return"),
                    collapse_inner_hits=2)
    with pytest.raises(ValueError, match="remove sort_by"):
        bool_search(spark, bool_idx, Bool(must="return"),
                    sort_by=("n_chars", "asc"), collapse="lang",
                    collapse_inner_hits=2)
    with pytest.raises(ValueError, match="function_score"):
        bool_search(
            spark, bool_idx,
            Bool(must="return",
                 functions=[{"field_value_factor": {"field": "n_chars"}}]),
            collapse="lang", collapse_inner_hits=2,
        )


# --------------------------------------------------------------- rescore
def _rescore_ref(ref, base_terms, phrase_seq, qw, rw, mode, window, k):
    base = sorted(
        (
            (d, sum(ref["contrib"](d, t) for t in base_terms))
            for d, v in ref["docs"].items()
            if any(t in v["toks"] for t in base_terms)
        ),
        key=lambda x: (-x[1], x[0]),
    )[:window]
    out = []
    for d, s in base:
        b = qw * s
        if ref["has_phrase"](d, phrase_seq):
            r = rw * sum(ref["contrib"](d, t) for t in sorted(set(phrase_seq)))
            f = {
                "total": b + r, "multiply": b * r, "avg": (b + r) / 2.0,
                "max": max(b, r), "min": min(b, r),
            }[mode]
        else:
            f = b
        out.append((d, f))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_rescore_total(spark, bool_idx, ref):
    from bugzilla_etl_spark.index import rescore_search

    got = rescore_search(
        spark, bool_idx, Bool(must="for"), Bool(phrase="return int"),
        k=10, window=30, query_weight=1.0, rescore_weight=2.0,
    )
    want = _rescore_ref(ref, ["for"], ["return", "int"], 1.0, 2.0,
                        "total", 30, 10)
    _assert_scored(got, want)
    # the rescore must actually reorder something vs the plain window
    plain = bool_search(spark, bool_idx, Bool(must="for"), k=10)
    assert [d for d, _ in got] != [d for d, _ in plain]


def test_rescore_modes(spark, bool_idx, ref):
    from bugzilla_etl_spark.index import rescore_search

    for mode in ("multiply", "avg", "max", "min"):
        got = rescore_search(
            spark, bool_idx, Bool(must="for"), Bool(phrase="return int"),
            k=8, window=25, query_weight=0.7, rescore_weight=1.2,
            score_mode=mode,
        )
        want = _rescore_ref(ref, ["for"], ["return", "int"], 0.7, 1.2,
                            mode, 25, 8)
        _assert_scored(got, want)
        assert got, mode


def test_rescore_window_bounds_second_pass(spark, bool_idx, ref):
    """Docs OUTSIDE the window never rescore: with window == k, ranks
    below the window can't be promoted past unrescored window docs'
    weighted base, and a huge window rescored everything."""
    from bugzilla_etl_spark.index import rescore_search

    small = rescore_search(
        spark, bool_idx, Bool(must="for"), Bool(phrase="return int"),
        k=10, window=10, rescore_weight=5.0,
    )
    want = _rescore_ref(ref, ["for"], ["return", "int"], 1.0, 5.0,
                        "total", 10, 10)
    _assert_scored(small, want)


def test_rescore_validation(spark, bool_idx):
    from bugzilla_etl_spark.index import rescore_search

    with pytest.raises(ValueError, match="score_mode"):
        rescore_search(spark, bool_idx, Bool(must="a"), Bool(must="b"),
                       score_mode="sum")
    with pytest.raises(ValueError, match="window"):
        rescore_search(spark, bool_idx, Bool(must="a"), Bool(must="b"),
                       window=0)
