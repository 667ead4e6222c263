"""Engine-side ES nested-object queries (VERDICT r4 #3): children
indexed as first-class docs with the parent id as a doc_attr; a
conjunctive query matches within ONE child; parents aggregate child
BM25 sums per ES score_mode. Reference:
configuration/es/bug_version.json:133-135,171-173 (nested mapping with
dynamic:strict — the capability the flattened content bag breaks).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from bugzilla_etl_spark.index import (
    build_index,
    incremental_update,
    nested_search,
    nested_search_many,
)
from bugzilla_etl_spark.index.build import delete_docs, prepare_docs
from bugzilla_etl_spark.oracle import idf, impact
from bugzilla_etl_spark.tokenize import py_tokens

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string, parent long, flag_ord long"


def _children_pdf(n_bugs: int = 60) -> pd.DataFrame:
    """Two attachments per bug: attach 0 carries review?(uA), attach 1
    feedback+(uB) with B shifted — so 'review uX' has a cross-match
    cohort a flattened index would wrongly return."""
    rows = []
    for bug in range(n_bugs):
        a, b = bug % 10, (bug + 3) % 10
        rows.append(
            ("bugs", f"{bug}/0", "c0", "en",
             f"review?(u{a}@x.com) patch_{bug % 4}", bug, 0)
        )
        rows.append(
            ("bugs", f"{bug}/1", "c0", "en",
             f"feedback+(u{b}@x.com) patch_{bug % 4}", bug, 1)
        )
    return pd.DataFrame(
        rows,
        columns=["repo", "path", "commit", "lang", "content", "parent", "flag_ord"],
    )


@pytest.fixture(scope="module")
def nested_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nidx") / "idx")
    corpus = spark.createDataFrame(_children_pdf(), schema=CORPUS_SCHEMA)
    build_index(
        spark, corpus, d, n_shards=4, n_tb=4, n_salts=2, n_sb=2,
        block_size=16,
        doc_attrs=["parent", "flag_ord"],
    )
    toks = {
        (int(r["parent"]), r["path"]): py_tokens(r["content"])
        for _, r in _children_pdf().iterrows()
    }
    return d, toks


def _py_nested_oracle(toks, query, score_mode="avg", allowed=None):
    """Exhaustive nested reference: conjunctive match within one child,
    child-space global BM25 stats, parent rollup per score_mode."""
    seq = py_tokens(query)
    uniq = sorted(set(seq))
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / max(1, n)
    dfs = {t: sum(1 for ts in toks.values() if t in ts) for t in uniq}
    per_parent: dict[int, list[float]] = {}
    for (parent, path), ts in toks.items():
        if allowed is not None and (parent, path) not in allowed:
            continue
        if not all(t in ts for t in uniq):
            continue
        s = sum(
            idf(n, dfs[t]) * impact(ts.count(t), len(ts), avgdl) for t in uniq
        )
        per_parent.setdefault(parent, []).append(s)
    out = []
    for p, scores in per_parent.items():
        if score_mode == "avg":
            sc = sum(scores) / len(scores)
        elif score_mode == "max":
            sc = max(scores)
        elif score_mode == "sum":
            sc = sum(scores)
        else:
            sc = 1.0
        out.append((p, sc))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


def test_nested_excludes_cross_matches(spark, nested_idx):
    """'review u7' must match only parents whose attach-0 carries u7 —
    parents where u7 lives in attach-1 (feedback) have both terms in
    the FLATTENED bag but not within one child."""
    d, toks = nested_idx
    got = nested_search(spark, d, "review u7", "parent", k=100, score_mode="none")
    want = sorted(b for b in range(60) if b % 10 == 7)
    assert sorted(p for p, _ in got) == want
    cross = {b for b in range(60) if (b + 3) % 10 == 7}
    assert not {p for p, _ in got} & cross


@pytest.mark.parametrize("mode", ["avg", "max", "sum"])
def test_nested_score_modes_vs_oracle(spark, nested_idx, mode):
    d, toks = nested_idx
    for q in ["review u4", "patch_2 feedback", "u3"]:
        got = nested_search(spark, d, q, "parent", k=100, score_mode=mode)
        want = _py_nested_oracle(toks, q, mode)
        assert [p for p, _ in got] == [p for p, _ in want], (q, mode)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9), (q, mode)


def test_nested_batch_and_k_cut(spark, nested_idx):
    d, toks = nested_idx
    res = nested_search_many(
        spark, d, [(0, "review u1", 3), (1, "qzx_missing review", 10)], "parent"
    )
    want = _py_nested_oracle(toks, "review u1", "avg")[:3]
    assert [p for p, _ in res[0]] == [p for p, _ in want]
    assert res[1] == []  # absent term: conjunction can never hold


def test_nested_predicate_filters_children(spark, nested_idx):
    """Filter context applies to CHILDREN (the not_analyzed term filter
    of the reference's query shape): restricting to flag_ord=1 keeps
    only feedback attachments as match candidates."""
    d, toks = nested_idx
    got = nested_search(
        spark, d, "u7", "parent", k=100, score_mode="avg",
        predicate=[("flag_ord", "==", 1)],
    )
    allowed = {k for k in toks if k[1].endswith("/1")}
    want = _py_nested_oracle(toks, "u7", "avg", allowed=allowed)
    assert [p for p, _ in got] == [p for p, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, abs_tol=1e-9)


def test_nested_rollup_spans_segments_and_deletes(spark, tmp_path):
    """A parent's children can live in different segments (incremental
    append): partials must merge associatively. Deleting a child via
    tombstone removes exactly its contribution."""
    d = str(tmp_path / "idx")
    pdf = _children_pdf(40)
    first = pdf[pdf["flag_ord"] == 0]
    second = pdf[pdf["flag_ord"] == 1]
    corpus1 = spark.createDataFrame(first, schema=CORPUS_SCHEMA)
    corpus2 = spark.createDataFrame(second, schema=CORPUS_SCHEMA)
    build_index(
        spark, corpus1, d, n_shards=2, n_tb=2,
        doc_attrs=["parent", "flag_ord"],
    )
    incremental_update(spark, corpus2, d)
    toks = {
        (int(r["parent"]), r["path"]): py_tokens(r["content"])
        for _, r in pdf.iterrows()
    }
    # patch_N occurs in BOTH of a parent's children (split across the
    # two segments): avg must see both
    got = nested_search(spark, d, "patch_1", "parent", k=100, score_mode="avg")
    want = _py_nested_oracle(toks, "patch_1", "avg")
    assert [p for p, _ in got] == [p for p, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, abs_tol=1e-9)
    # delete one matching child (parent 1's attach 0) -> its score drops
    victim = prepare_docs(corpus1, 2).select("doc_id", "path").collect()
    vid = next(int(r["doc_id"]) for r in victim if r["path"] == "1/0")
    delete_docs(spark, d, [vid], auto_compact_ratio=None)
    got2 = nested_search(spark, d, "patch_1", "parent", k=100, score_mode="sum")
    # engine stats semantics after tombstone: N/avgdl live change; just
    # assert membership — parent 1 now has ONE matching child, score ==
    # its remaining attach-1 child alone (strictly less than before)
    before = dict(
        nested_search(spark, d, "patch_1", "parent", k=100, score_mode="max")
    )
    s_sum = dict(got2)
    assert math.isclose(s_sum[1], before[1], abs_tol=1e-9)  # one child left


def test_nested_requires_parent_attr(spark, tmp_path):
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(_children_pdf(10), schema=CORPUS_SCHEMA)
    build_index(spark, corpus, d, n_shards=2, n_tb=2)
    with pytest.raises(Exception, match="doc_attrs|parent"):
        nested_search(spark, d, "review u1", "parent", k=5)


def test_nested_phrase_within_one_child(spark, tmp_path):
    """Round 5: ES nested + match_phrase — the EXACT token sequence must
    occur within ONE child. A parent whose child has the tokens in the
    wrong order (conjunctive match, no adjacency) must NOT match."""
    rows = []
    # parent 0: child with "alpha beta" adjacent -> phrase matches
    rows.append(("bugs", "0/0", "c0", "en", "alpha beta gamma", 0, 0))
    # parent 1: child has both tokens, reversed -> conjunctive only
    rows.append(("bugs", "1/0", "c0", "en", "beta delta alpha", 1, 0))
    # parent 2: tokens split ACROSS children -> neither matches
    rows.append(("bugs", "2/0", "c0", "en", "alpha epsilon", 2, 0))
    rows.append(("bugs", "2/1", "c0", "en", "zeta beta", 2, 1))
    # parent 3: two children, one with the phrase
    rows.append(("bugs", "3/0", "c0", "en", "eta theta", 3, 0))
    rows.append(("bugs", "3/1", "c0", "en", "iota alpha beta", 3, 1))
    pdf = pd.DataFrame(
        rows,
        columns=["repo", "path", "commit", "lang", "content", "parent", "flag_ord"],
    )
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(pdf, schema=CORPUS_SCHEMA)
    build_index(
        spark, corpus, d, n_shards=2, n_tb=2,
        positions=True, doc_attrs=["parent", "flag_ord"],
    )
    got = nested_search(spark, d, "alpha beta", "parent", k=10,
                        score_mode="none", phrase=True)
    assert sorted(p for p, _ in got) == [0, 3]
    # conjunctive (non-phrase) additionally matches the reversed child
    conj = nested_search(spark, d, "alpha beta", "parent", k=10,
                         score_mode="none")
    assert sorted(p for p, _ in conj) == [0, 1, 3]
    # phrase + must_not composes: exclude children containing 'iota'
    got = nested_search(spark, d, "alpha beta", "parent", k=10,
                        score_mode="none", phrase=True, must_not=["iota"])
    assert sorted(p for p, _ in got) == [0]
    # non-positional index: clear error
    d2 = str(tmp_path / "idx2")
    build_index(spark, corpus, d2, n_shards=2, n_tb=2,
                doc_attrs=["parent"])
    with pytest.raises(ValueError, match="positions"):
        nested_search(spark, d2, "alpha beta", "parent", phrase=True)


@pytest.mark.parametrize("mode", ["avg", "max", "sum", "none"])
def test_nested_spark_merge_parity(spark, nested_idx, mode):
    """VERDICT r5 #2 (scale): forcing the distributed (query, parent)
    rollup merge — Spark aggregation + per-query top-k window, only k
    parents collected — must return exactly the driver-pandas merge's
    parents AND scores, for every score_mode, including a k-cut that
    lands inside a tie class."""
    d, toks = nested_idx
    batch = [(0, "review u4", 5), (1, "patch_2 feedback", 7), (2, "u3", 100)]
    via_driver = nested_search_many(
        spark, d, batch, "parent", score_mode=mode, merge="driver"
    )
    via_spark = nested_search_many(
        spark, d, batch, "parent", score_mode=mode, merge="spark"
    )
    assert set(via_driver) == set(via_spark)
    for qid in via_driver:
        a, b = via_driver[qid], via_spark[qid]
        assert [p for p, _ in a] == [p for p, _ in b], (qid, mode)
        for (_, sa), (_, sb) in zip(a, b):
            assert math.isclose(sa, sb, abs_tol=1e-12), (qid, mode)


# ------------------------------------------------------------- nested aggs
# ES nested aggregation (+ reverse_nested): facets over the nested
# query's match set — child-level counts matching children per child
# attr value; parent-level counts DISTINCT parents per (denormalized)
# attr value, deduped across buckets/segments.

from collections import Counter

from bugzilla_etl_spark.index import nested_terms_agg

AGG_SCHEMA = CORPUS_SCHEMA + ", grp string"


def _agg_children_pdf(n_bugs: int = 60) -> pd.DataFrame:
    pdf = _children_pdf(n_bugs)
    pdf["grp"] = ["g" + str(p % 3) for p in pdf["parent"]]
    return pdf


@pytest.fixture(scope="module")
def nested_agg_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nagg") / "idx")
    pdf = _agg_children_pdf()
    corpus = spark.createDataFrame(pdf, schema=AGG_SCHEMA)
    build_index(
        spark, corpus, d, n_shards=4, n_tb=4, n_salts=2, n_sb=2,
        block_size=16,
        doc_attrs=["parent", "flag_ord", "grp"],
    )
    return d, pdf


def _matching_children(pdf, query, must_not=None, flag_ord=None):
    seq = set(py_tokens(query))
    out = []
    for _, r in pdf.iterrows():
        ts = py_tokens(r["content"])
        if flag_ord is not None and r["flag_ord"] != flag_ord:
            continue
        if must_not and any(t in ts for t in must_not):
            continue
        if all(t in ts for t in seq):
            out.append(r)
    return out


def _expect_sorted(cnt: Counter, size=10):
    return sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:size]


def test_nested_agg_child_level(spark, nested_agg_idx):
    d, pdf = nested_agg_idx
    got = nested_terms_agg(spark, d, "flag_ord", "patch_2", level="child")
    rows = _matching_children(pdf, "patch_2")
    want = _expect_sorted(Counter(int(r["flag_ord"]) for r in rows))
    assert got == want
    assert sum(n for _, n in got) == len(rows) and rows


def test_nested_agg_parent_level(spark, nested_agg_idx):
    d, pdf = nested_agg_idx
    got = nested_terms_agg(
        spark, d, "grp", "review u7", parent_attr="parent", level="parent"
    )
    rows = _matching_children(pdf, "review u7")
    parents = {int(r["parent"]) for r in rows}
    want = _expect_sorted(Counter("g" + str(p % 3) for p in parents))
    assert got == want and parents
    # the cross-match cohort (u7 only via the OTHER attachment) must
    # not be counted — mirror of test_nested_excludes_cross_matches
    assert parents == {b for b in range(60) if b % 10 == 7}


def test_nested_agg_composes(spark, nested_agg_idx):
    d, pdf = nested_agg_idx
    got = nested_terms_agg(
        spark, d, "grp", "u7", parent_attr="parent", level="parent",
        must_not=["feedback"], predicate=[("flag_ord", "==", 0)],
    )
    rows = _matching_children(pdf, "u7", must_not=["feedback"], flag_ord=0)
    parents = {int(r["parent"]) for r in rows}
    want = _expect_sorted(Counter("g" + str(p % 3) for p in parents))
    assert got == want and parents


def test_nested_agg_merge_parity(spark, nested_agg_idx):
    d, pdf = nested_agg_idx
    for level, attr in [("parent", "grp"), ("parent", "parent")]:
        a = nested_terms_agg(
            spark, d, attr, "patch_1", parent_attr="parent", level=level,
            size=100, merge="driver",
        )
        b = nested_terms_agg(
            spark, d, attr, "patch_1", parent_attr="parent", level=level,
            size=100, merge="spark",
        )
        assert a == b and a


def test_nested_agg_parent_spans_segments(spark, tmp_path):
    """A parent's matching children split across two segments must count
    ONCE at parent level (the cross-bucket dedupe), while child level
    counts both children."""
    d = str(tmp_path / "idx")
    pdf = _agg_children_pdf(40)
    first = pdf[pdf["flag_ord"] == 0]
    second = pdf[pdf["flag_ord"] == 1]
    build_index(
        spark, spark.createDataFrame(first, schema=AGG_SCHEMA), d,
        n_shards=2, n_tb=2,
        doc_attrs=["parent", "flag_ord", "grp"],
    )
    incremental_update(spark, spark.createDataFrame(second, schema=AGG_SCHEMA), d)
    rows = _matching_children(pdf, "patch_3")
    parents = {int(r["parent"]) for r in rows}
    gotp = nested_terms_agg(
        spark, d, "grp", "patch_3", parent_attr="parent", level="parent",
        size=100,
    )
    assert gotp == _expect_sorted(Counter("g" + str(p % 3) for p in parents), 100)
    gotc = nested_terms_agg(spark, d, "flag_ord", "patch_3", level="child",
                            size=100)
    assert sum(n for _, n in gotc) == len(rows) == 2 * len(parents)


def test_nested_agg_errors_and_empty(spark, nested_agg_idx):
    d, _ = nested_agg_idx
    assert nested_terms_agg(
        spark, d, "grp", "qzx_missing", parent_attr="parent"
    ) == []
    with pytest.raises(ValueError, match="level"):
        nested_terms_agg(spark, d, "grp", "u1", level="bogus")
    with pytest.raises(ValueError, match="parent_attr"):
        nested_terms_agg(spark, d, "grp", "u1", level="parent")
    with pytest.raises(ValueError, match="unknown"):
        nested_terms_agg(spark, d, "nope", "u1", parent_attr="parent")


def test_nested_inner_hits(spark, nested_idx):
    """inner_hits: each winning parent's matching children with their
    child-level BM25 — exactly the scores the rollup averaged."""
    d, toks = nested_idx
    got = nested_search(
        spark, d, "review u4", "parent", k=5, score_mode="max",
        inner_hits=3,
    )
    assert got and all(len(h) == 3 for h in got)
    # reference child scores: conjunctive within one child
    seq = py_tokens("review u4")
    uniq = sorted(set(seq))
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfs = {t: sum(1 for ts in toks.values() if t in ts) for t in uniq}
    want_children = {}
    for (parent, _path), ts in toks.items():
        if all(t in ts for t in uniq):
            s = sum(
                idf(n, dfs[t]) * impact(ts.count(t), len(ts), avgdl)
                for t in uniq
            )
            want_children.setdefault(parent, []).append(s)
    for parent, rolled, inner in got:
        want = sorted(want_children[parent], reverse=True)[:3]
        assert len(inner) == len(want)
        for (_cid, cs), ws in zip(inner, want):
            assert math.isclose(cs, ws, rel_tol=1e-9)
        # score_mode=max: the rolled score IS the best child's score
        assert math.isclose(rolled, inner[0][1], rel_tol=1e-9)


def test_nested_inner_hits_validation(spark, nested_idx):
    d, _ = nested_idx
    with pytest.raises(ValueError, match="inner_hits"):
        nested_search(
            spark, d, "review u4", "parent", inner_hits=0
        )
