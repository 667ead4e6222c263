"""Aggregations (ES facets) over the match set (VERDICT r5 #2): terms /
range / stats vs a brute-force Python reference, over every gate shape
the bool DSL composes (match_all, term match, AND, phrase, filter,
must_not).
"""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import (
    Bool,
    build_index,
    range_agg,
    stats_agg,
    terms_agg,
)
from bugzilla_etl_spark.index.build import delete_docs, prepare_docs
from bugzilla_etl_spark.tokenize import py_analyze


@pytest.fixture(scope="module")
def agg_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("aggs") / "idx")
    corpus = small_corpus.withColumn("n_chars", F.length("content"))
    build_index(
        spark, corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["n_chars"], positions=True,
    )
    return d


@pytest.fixture(scope="module")
def ref(spark, small_corpus):
    corpus = small_corpus.withColumn("n_chars", F.length("content"))
    rows = (
        prepare_docs(corpus, 4)
        .select("doc_id", "content", "lang", "n_chars")
        .collect()
    )
    return {
        r["doc_id"]: {
            "toks": py_analyze(r["content"], "code_v1"),
            "lang": r["lang"],
            "n_chars": r["n_chars"],
        }
        for r in rows
    }


def _match(ref, must=None, lang=None, neg=None, phrase=None):
    out = []
    for d, v in ref.items():
        if lang is not None and v["lang"] != lang:
            continue
        if must and not any(t in v["toks"] for t in must):
            continue
        if neg and any(t in v["toks"] for t in neg):
            continue
        if phrase:
            L = len(phrase)
            if not any(
                v["toks"][i : i + L] == phrase
                for i in range(len(v["toks"]) - L + 1)
            ):
                continue
        out.append(d)
    return out


def test_terms_agg_match_all(spark, agg_idx, ref):
    got = terms_agg(spark, agg_idx, "lang")
    want = Counter(v["lang"] for v in ref.values())
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect


def test_terms_agg_over_match_set(spark, agg_idx, ref):
    q = Bool(must="uniq_13 uniq_23 uniq_33 uniq_43")
    got = terms_agg(spark, agg_idx, "lang", query=q)
    docs = _match(ref, must=["uniq_13", "uniq_23", "uniq_33", "uniq_43"])
    want = Counter(ref[d]["lang"] for d in docs)
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect
    assert sum(want.values()) == 4  # df=1 terms: exactly 4 matching docs


def test_terms_agg_composed_gate(spark, agg_idx, ref):
    q = Bool(
        phrase="return int", must_not=["fn"],
        filter=[("lang", "==", "python")],
    )
    got = terms_agg(spark, agg_idx, "lang", query=q)
    docs = _match(ref, lang="python", neg=["fn"], phrase=["return", "int"])
    want = Counter(ref[d]["lang"] for d in docs)
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect
    assert docs, "fixture must produce matches"


def test_terms_agg_size_cut(spark, agg_idx, ref):
    got = terms_agg(spark, agg_idx, "lang", size=2)
    want = Counter(v["lang"] for v in ref.values())
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert got == expect


def test_range_agg(spark, agg_idx, ref):
    q = Bool(must="return")
    ranges = [(None, 2000), (2000, 8000), (8000, None), (0, None)]
    got = range_agg(spark, agg_idx, "n_chars", ranges, query=q)
    docs = _match(ref, must=["return"])
    for (lo, hi, n), (wlo, whi) in zip(got, ranges):
        wn = sum(
            1
            for d in docs
            if (wlo is None or ref[d]["n_chars"] >= wlo)
            and (whi is None or ref[d]["n_chars"] < whi)
        )
        assert (lo, hi, n) == (wlo, whi, wn)
    assert sum(n for _, _, n in got[:3]) == len(docs)  # partition covers


def test_stats_agg(spark, agg_idx, ref):
    q = Bool(must="return int", operator="and")
    got = stats_agg(spark, agg_idx, "n_chars", query=q)
    docs = [
        d
        for d, v in ref.items()
        if "return" in v["toks"] and "int" in v["toks"]
    ]
    vals = [ref[d]["n_chars"] for d in docs]
    assert got["count"] == len(vals)
    assert math.isclose(got["sum"], sum(vals))
    assert got["min"] == min(vals) and got["max"] == max(vals)
    assert math.isclose(got["avg"], sum(vals) / len(vals))


def test_terms_agg_excludes_tombstones(spark, agg_idx, ref, tmp_path):
    """Deleted docs leave every facet immediately (the agg path applies
    the same exclusion set as search)."""
    import shutil

    d2 = str(tmp_path / "idx2")
    shutil.copytree(agg_idx, d2)
    langs = {}
    for did, v in ref.items():
        langs.setdefault(v["lang"], []).append(did)
    victim_lang = sorted(langs)[0]
    victims = langs[victim_lang][:5]
    delete_docs(spark, d2, victims, auto_compact_ratio=None)
    got = dict(terms_agg(spark, d2, "lang"))
    want = Counter(v["lang"] for did, v in ref.items() if did not in victims)
    assert got == dict(want)


def test_histogram_agg(spark, agg_idx, ref):
    from bugzilla_etl_spark.index import histogram_agg

    q = Bool(must="return")
    got = histogram_agg(spark, agg_idx, "n_chars", 2000.0, query=q)
    docs = _match(ref, must=["return"])
    want = Counter(
        (ref[d]["n_chars"] // 2000) * 2000.0 for d in docs
    )
    assert got == sorted(want.items())
    assert sum(n for _, n in got) == len(docs)
    with pytest.raises(ValueError, match="interval"):
        histogram_agg(spark, agg_idx, "n_chars", 0, query=q)


# ---------------------------------------------------------------- mm gates
# aggregations over a Bool carrying multi_match clauses (the agg path
# shares _gate_survivors with the bool executor, so facets must run
# over exactly the set a bool+mm search would rank) and the
# should-only promotion (ES bool-with-only-should gates on should)

MM_FIELDS = ("content", "sh")
MM_CHAINS = {"content": "code_v1", "sh": "code_v1_shingle"}


@pytest.fixture(scope="module")
def agg_mm_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("aggs_mm") / "idx")
    corpus = small_corpus.withColumn("n_chars", F.length("content"))
    build_index(
        spark, corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["n_chars"],
        extra_fields={"sh": MM_CHAINS["sh"]},
    )
    return d


@pytest.fixture(scope="module")
def ref_mm(spark, small_corpus):
    corpus = small_corpus.withColumn("n_chars", F.length("content"))
    rows = (
        prepare_docs(corpus, 4)
        .select("doc_id", "content", "lang", "n_chars")
        .collect()
    )
    return {
        r["doc_id"]: {
            "toks": {
                f: py_analyze(r["content"], c) for f, c in MM_CHAINS.items()
            },
            "lang": r["lang"],
            "n_chars": r["n_chars"],
        }
        for r in rows
    }


def _mm_match(ref_mm, text, operator="or", lang=None, neg=None):
    """Docs whose ANY field satisfies the mm clause's per-field gate."""
    qterms = {f: sorted(set(py_analyze(text, c))) for f, c in MM_CHAINS.items()}
    out = []
    for d, v in ref_mm.items():
        if lang is not None and v["lang"] != lang:
            continue
        if neg and any(t in v["toks"]["content"] for t in neg):
            continue
        ok = False
        for f, ts in qterms.items():
            if not ts:
                continue
            hits = sum(1 for t in ts if t in v["toks"][f])
            need = len(ts) if operator == "and" else 1
            if hits >= need:
                ok = True
                break
        if ok:
            out.append(d)
    return out


def test_terms_agg_mm_gate(spark, agg_mm_idx, ref_mm):
    q = Bool(multi_match="return int fn", mm_fields=MM_FIELDS)
    got = terms_agg(spark, agg_mm_idx, "lang", query=q, size=100)
    docs = _mm_match(ref_mm, "return int fn")
    want = Counter(ref_mm[d]["lang"] for d in docs)
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect
    assert docs, "fixture must produce matches"


def test_terms_agg_mm_composed(spark, agg_mm_idx, ref_mm):
    q = Bool(
        multi_match="return int fn", mm_fields=MM_FIELDS, operator="and",
        must_not=["stream"], filter=[("lang", "==", "python")],
    )
    got = terms_agg(spark, agg_mm_idx, "lang", query=q, size=100)
    docs = _mm_match(
        ref_mm, "return int fn", operator="and", lang="python",
        neg=["stream"],
    )
    want = Counter(ref_mm[d]["lang"] for d in docs)
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect


def test_stats_agg_mm(spark, agg_mm_idx, ref_mm):
    q = Bool(multi_match="return int fn", mm_fields=MM_FIELDS)
    got = stats_agg(spark, agg_mm_idx, "n_chars", query=q)
    vals = [ref_mm[d]["n_chars"] for d in _mm_match(ref_mm, "return int fn")]
    assert got["count"] == len(vals)
    assert math.isclose(got["sum"], sum(vals))
    assert got["min"] == min(vals) and got["max"] == max(vals)


def test_terms_agg_should_only_promotes(spark, agg_idx, ref):
    """Bool(should=...) with no other scored clause must GATE the agg
    (ES bool-with-only-should), not degrade to match_all."""
    q = Bool(should="uniq_13 uniq_23")
    got = terms_agg(spark, agg_idx, "lang", query=q, size=100)
    docs = _match(ref, must=["uniq_13", "uniq_23"])
    want = Counter(ref[d]["lang"] for d in docs)
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect
    assert sum(want.values()) == 2  # df=1 uniq terms: NOT all docs


def test_agg_mm_unmatchable(spark, agg_mm_idx, ref_mm):
    q = Bool(multi_match="zzqqxxyy_nothere", mm_fields=MM_FIELDS)
    assert terms_agg(spark, agg_mm_idx, "lang", query=q) == []
    got = stats_agg(spark, agg_mm_idx, "n_chars", query=q)
    assert got["count"] == 0


# ----------------------------------------------------- sub-aggs + cardinality

from bugzilla_etl_spark.index import cardinality_agg
from bugzilla_etl_spark.index.aggs import _hll_estimate, _hll_registers


def test_terms_sub_stats(spark, agg_idx, ref):
    """ES terms + nested stats sub-agg: per lang bucket, stats of
    n_chars over the match set — every field checked against a
    brute-force reference."""
    q = Bool(must="return")
    got = terms_agg(spark, agg_idx, "lang", query=q, sub_stats="n_chars",
                    size=100)
    docs = _match(ref, must=["return"])
    assert docs
    by_lang: dict[str, list[int]] = {}
    for d in docs:
        by_lang.setdefault(ref[d]["lang"], []).append(ref[d]["n_chars"])
    want_order = sorted(
        ((k, len(v)) for k, v in by_lang.items()), key=lambda kv: (-kv[1], kv[0])
    )
    assert [(k, n) for k, n, _ in got] == want_order
    for k, n, st in got:
        vals = by_lang[k]
        assert st["count"] == len(vals) == n
        assert math.isclose(st["sum"], sum(vals))
        assert st["min"] == min(vals) and st["max"] == max(vals)
        assert math.isclose(st["avg"], sum(vals) / len(vals))


def test_terms_sub_stats_match_all_and_gated_equal_plain(spark, agg_idx, ref):
    """The bucket (key, n_docs) part of a sub-agg result must equal the
    plain terms_agg exactly (the sub-agg cannot change bucketing)."""
    for q in [None, Bool(must="fn impl")]:
        plain = terms_agg(spark, agg_idx, "lang", query=q, size=100)
        sub = terms_agg(spark, agg_idx, "lang", query=q, sub_stats="n_chars",
                        size=100)
        assert [(k, n) for k, n, _ in sub] == plain


def test_sub_stats_rejects_string_attr(spark, agg_idx):
    with pytest.raises(ValueError, match="numeric"):
        terms_agg(spark, agg_idx, "lang", sub_stats="lang")


def test_cardinality_exact(spark, agg_idx, ref):
    assert cardinality_agg(spark, agg_idx, "lang") == len(
        {v["lang"] for v in ref.values()}
    )
    q = Bool(must="uniq_13 uniq_23")
    docs = _match(ref, must=["uniq_13", "uniq_23"])
    assert cardinality_agg(spark, agg_idx, "lang", query=q) == len(
        {ref[d]["lang"] for d in docs}
    )
    # high-cardinality numeric attr, filtered
    q2 = Bool(filter=[("lang", "==", "python")])
    docs2 = _match(ref, lang="python")
    assert cardinality_agg(spark, agg_idx, "n_chars", query=q2) == len(
        {ref[d]["n_chars"] for d in docs2}
    )
    assert cardinality_agg(spark, agg_idx, "lang", query=Bool(must="qzx_no")) == 0


def test_cardinality_hll_accuracy_and_merge(spark, agg_idx, ref):
    """The sketch path must land within the HLL error envelope of the
    exact answer and be insensitive to duplicates across buckets."""
    exact = cardinality_agg(spark, agg_idx, "n_chars")
    est = cardinality_agg(spark, agg_idx, "n_chars", precision=14)
    assert abs(est - exact) <= max(2, int(0.05 * exact) + 1)
    with pytest.raises(ValueError, match="precision"):
        cardinality_agg(spark, agg_idx, "n_chars", precision=2)


def test_hll_estimator_envelope():
    """Pure-sketch property: 50k planted longs estimate within ~3 sigma
    of truth at p=14, and register merge == union semantics."""
    import numpy as np

    n = 50_000
    a = _hll_registers(list(range(n // 2)), 14, "long")
    b = _hll_registers(list(range(n // 4, n)), 14, "long")  # overlap
    merged = np.maximum(a, b)
    est = _hll_estimate(merged)
    sigma = 1.04 / math.sqrt(1 << 14)
    assert abs(est - n) <= 4 * sigma * n
    # duplicate-insensitive: re-adding a's values changes nothing
    again = np.maximum(merged, a)
    assert _hll_estimate(again) == est


def test_hll_long_float_canon_agree():
    """A long attr surfacing as float64 in a null-carrying bucket must
    hash identically to its int form (the canonicalization contract)."""
    import numpy as np

    ints = _hll_registers([1, 2, 3, 4, 5], 12, "long")
    floats = _hll_registers([1.0, 2.0, 3.0, 4.0, 5.0], 12, "long")
    assert np.array_equal(ints, floats)


def test_aggs_with_nullable_long_attr(spark, tmp_path):
    """A long doc_attr with nulls surfaces as float64 in null-carrying
    buckets: terms/sub-stats/cardinality partials must still convert to
    their typed schemas and count only non-null values."""
    import pandas as pd

    rows = []
    for i in range(40):
        rows.append(
            ("r", str(i), "c0", "en", f"alpha tok_{i % 4}",
             (i % 5) if i % 3 else None)
        )
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "grp"]
    )
    pdf["grp"] = pdf["grp"].astype("Int64")
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        pdf,
        schema="repo string, path string, commit string, lang string, "
               "content string, grp long",
    )
    build_index(spark, corpus, d, n_shards=2, n_tb=2, n_sb=2,
                doc_attrs=["grp"])
    non_null = [int(g) for g in pdf["grp"].dropna()]
    got = terms_agg(spark, d, "grp", query=Bool(must="alpha"), size=100)
    want = sorted(Counter(non_null).items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == want
    from bugzilla_etl_spark.index import cardinality_agg

    assert cardinality_agg(spark, d, "grp") == len(set(non_null))
    est = cardinality_agg(spark, d, "grp", precision=12)
    assert est == len(set(non_null))  # tiny cardinality: HLL exact here
    sub = terms_agg(spark, d, "lang", query=Bool(must="alpha"),
                    sub_stats="grp", size=10)
    assert sub[0][0] == "en" and sub[0][1] == 40
    assert sub[0][2]["count"] == len(non_null)
    assert sub[0][2]["sum"] == float(sum(non_null))


def test_terms_agg_nullable_keys_are_ints_local_and_spark(spark, tmp_path):
    """Local execution returns scorer partials WITHOUT Arrow schema
    coercion, so a long attr's keys must be normalized in the partial
    itself — floats leaking from null-carrying buckets would fail the
    dtype-strict driver hash."""
    import pandas as pd

    rows = [("r", str(i), "c0", "en", "alpha",
             (i % 3) if i % 4 else None) for i in range(24)]
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "grp"]
    )
    pdf["grp"] = pdf["grp"].astype("Int64")
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        pdf,
        schema="repo string, path string, commit string, lang string, "
               "content string, grp long",
    )
    build_index(spark, corpus, d, n_shards=2, n_tb=2, n_sb=2,
                doc_attrs=["grp"])
    for execution in ("local", "spark"):
        got = terms_agg(spark, d, "grp", query=Bool(must="alpha"),
                        size=100, execution=execution)
        assert all(type(k) is int for k, _ in got), (execution, got)


# ------------------------------------------------------------- multi_agg

from bugzilla_etl_spark.index import multi_agg, range_agg, histogram_agg


def test_multi_agg_matches_singles(spark, agg_idx, ref):
    """N aggregations in ONE gate pass must return exactly what the
    N single-agg calls return, for every kind, over a composed gate."""
    q = Bool(must="return", must_not=["stream"])
    specs = {
        "by_lang": {"kind": "terms", "attr": "lang", "size": 100},
        "by_lang_chars": {"kind": "terms", "attr": "lang", "size": 100,
                          "sub_stats": "n_chars"},
        "chars": {"kind": "stats", "attr": "n_chars"},
        "bands": {"kind": "range", "attr": "n_chars",
                  "ranges": [(None, 300), (300, 600), (600, None)]},
        "hist": {"kind": "histogram", "attr": "n_chars", "interval": 250},
        "n_langs": {"kind": "cardinality", "attr": "lang"},
        "n_chars_hll": {"kind": "cardinality", "attr": "n_chars",
                        "precision": 14},
    }
    got = multi_agg(spark, agg_idx, specs, query=q)
    assert got["by_lang"] == terms_agg(spark, agg_idx, "lang", query=q,
                                       size=100)
    assert got["by_lang_chars"] == terms_agg(
        spark, agg_idx, "lang", query=q, size=100, sub_stats="n_chars"
    )
    assert got["chars"] == stats_agg(spark, agg_idx, "n_chars", query=q)
    assert got["bands"] == range_agg(
        spark, agg_idx, "n_chars",
        [(None, 300), (300, 600), (600, None)], query=q,
    )
    assert got["hist"] == histogram_agg(spark, agg_idx, "n_chars", 250,
                                        query=q)
    from bugzilla_etl_spark.index import cardinality_agg

    assert got["n_langs"] == cardinality_agg(spark, agg_idx, "lang", query=q)
    assert got["n_chars_hll"] == cardinality_agg(
        spark, agg_idx, "n_chars", query=q, precision=14
    )
    assert got["by_lang"] and got["chars"]["count"] > 0  # non-vacuous


def test_multi_agg_execution_parity_and_empty(spark, agg_idx):
    specs = {
        "by_lang": {"kind": "terms", "attr": "lang"},
        "chars": {"kind": "stats", "attr": "n_chars"},
    }
    a = multi_agg(spark, agg_idx, specs, query=Bool(must="return"),
                  execution="local")
    b = multi_agg(spark, agg_idx, specs, query=Bool(must="return"),
                  execution="spark")
    assert a == b
    # unmatchable gate: every agg gets its empty shape
    e = multi_agg(spark, agg_idx, specs, query=Bool(must="qzx_nothere"))
    assert e["by_lang"] == [] and e["chars"]["count"] == 0


def test_multi_agg_validation(spark, agg_idx):
    with pytest.raises(ValueError, match="unknown kind"):
        multi_agg(spark, agg_idx, {"x": {"kind": "bogus", "attr": "lang"}})
    with pytest.raises(ValueError, match="at least one"):
        multi_agg(spark, agg_idx, {})
    with pytest.raises(ValueError, match="numeric"):
        multi_agg(spark, agg_idx, {"x": {"kind": "terms", "attr": "lang",
                                         "sub_stats": "lang"}})
    with pytest.raises(ValueError, match="interval"):
        multi_agg(spark, agg_idx, {"x": {"kind": "histogram",
                                         "attr": "n_chars", "interval": 0}})
    with pytest.raises(ValueError, match="precision"):
        multi_agg(spark, agg_idx, {"x": {"kind": "cardinality",
                                         "attr": "lang", "precision": 99}})


# ------------------------------------------------------------- top_hits
def test_top_hits_matches_filtered_search(spark, agg_idx, ref):
    """Per terms bucket, top_hits must equal a bool_search of the SAME
    query filtered to that bucket's key, bit for bit — the shared-scorer
    guarantee (boolquery._score_survivors), including should-boost (also
    a should term that is a must term, counted twice), phrase and
    phrase_freq contributions."""
    from dataclasses import replace

    from bugzilla_etl_spark.index import bool_search

    q = Bool(must="return", should="stream")
    got = terms_agg(spark, agg_idx, "lang", query=q, size=100, sub_hits=3)
    want_counts = Counter(
        ref[d]["lang"] for d in _match(ref, must=["return"])
    )
    assert {k: n for k, n, _ in got} == dict(want_counts)
    assert got  # non-vacuous
    checked = 0
    qp = Bool(phrase="return int")
    got_p = terms_agg(spark, agg_idx, "lang", query=qp, size=100, sub_hits=3)
    assert sum(n for _, n, _ in got_p) == len(
        _match(ref, phrase=["return", "int"])
    )
    more = [
        Bool(phrase="return int", phrase_scoring="phrase_freq"),
        Bool(must="return int", operator="and", should="int"),
    ]
    runs = [(q, got), (qp, got_p)] + [
        (x, terms_agg(spark, agg_idx, "lang", query=x, size=100, sub_hits=3))
        for x in more
    ]
    for query, res in runs:
        assert res, query
        for key, _n, hits in res:
            per_key = bool_search(
                spark, agg_idx,
                replace(query, filter=[("lang", "==", key)]),
                k=3,
            )
            assert hits == per_key, query
            checked += 1
    assert checked


def test_top_hits_match_all_and_bounds(spark, agg_idx, ref):
    """match_all top_hits: every doc scores 0.0, hits are the key's
    lowest doc_ids; each bucket returns at most sub_hits rows."""
    got = terms_agg(spark, agg_idx, "lang", sub_hits=2)
    for key, n, hits in got:
        want_ids = sorted(d for d, v in ref.items() if v["lang"] == key)[:2]
        assert [d for d, _ in hits] == want_ids
        assert all(s == 0.0 for _, s in hits)
        assert len(hits) <= 2 and n >= len(hits)


def test_top_hits_execution_parity(spark, agg_idx):
    q = Bool(must="return merge")
    a = terms_agg(spark, agg_idx, "lang", query=q, sub_hits=3,
                  execution="local")
    b = terms_agg(spark, agg_idx, "lang", query=q, sub_hits=3,
                  execution="spark")
    assert a == b and a


def test_top_hits_in_multi_agg(spark, agg_idx):
    q = Bool(must="return", must_not=["stream"])
    got = multi_agg(
        spark, agg_idx,
        {
            "best": {"kind": "terms", "attr": "lang", "size": 100,
                     "sub_hits": 2},
            "by_lang": {"kind": "terms", "attr": "lang", "size": 100},
        },
        query=q,
    )
    assert got["best"] == terms_agg(spark, agg_idx, "lang", query=q,
                                    size=100, sub_hits=2)
    assert [(k, n) for k, n, _ in got["best"]] == got["by_lang"]
    assert got["best"]  # non-vacuous


def test_top_hits_validation(spark, agg_idx):
    with pytest.raises(ValueError, match="mutually exclusive"):
        terms_agg(spark, agg_idx, "lang", sub_stats="n_chars", sub_hits=2)
    with pytest.raises(ValueError, match="sub_hits"):
        terms_agg(spark, agg_idx, "lang", sub_hits=0)
    with pytest.raises(ValueError, match="mutually exclusive"):
        multi_agg(spark, agg_idx, {"x": {"kind": "terms", "attr": "lang",
                                         "sub_stats": "n_chars",
                                         "sub_hits": 2}})


# ----------------------------------------------------------- percentiles
def test_percentiles_agg_exact(spark, agg_idx, ref):
    """Exact weighted-quantile percentiles == numpy method='linear'
    (== SQL quantile_cont) over the match set's attr multiset."""
    import numpy as np

    from bugzilla_etl_spark.index import percentiles_agg

    qs = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = percentiles_agg(
        spark, agg_idx, "n_chars", qs, query=Bool(must="return")
    )
    vals = np.array(
        [ref[d]["n_chars"] for d in _match(ref, must=["return"])],
        dtype=np.float64,
    )
    assert len(vals) > 5
    for (q, v), qq in zip(got, qs):
        assert q == qq
        assert math.isclose(v, float(np.quantile(vals, qq, method="linear")),
                            rel_tol=1e-12), q
    # match_all over every doc
    got_all = percentiles_agg(spark, agg_idx, "n_chars", [0.5])
    all_vals = np.array([v["n_chars"] for v in ref.values()], dtype=np.float64)
    assert math.isclose(
        got_all[0][1], float(np.quantile(all_vals, 0.5, method="linear")),
        rel_tol=1e-12,
    )


def test_percentiles_agg_empty_and_validation(spark, agg_idx):
    from bugzilla_etl_spark.index import multi_agg, percentiles_agg

    got = percentiles_agg(
        spark, agg_idx, "n_chars", [0.5], query=Bool(must="qzx_nothere")
    )
    assert got == [(0.5, None)]
    with pytest.raises(ValueError, match="\\[0, 1\\]"):
        percentiles_agg(spark, agg_idx, "n_chars", [1.5])
    with pytest.raises(ValueError, match="at least one"):
        percentiles_agg(spark, agg_idx, "n_chars", [])
    with pytest.raises(ValueError, match="numeric"):
        percentiles_agg(spark, agg_idx, "lang", [0.5])
    with pytest.raises(ValueError, match="qs"):
        multi_agg(spark, agg_idx, {"p": {"kind": "percentiles",
                                         "attr": "n_chars"}})


def test_percentiles_in_multi_agg(spark, agg_idx):
    from bugzilla_etl_spark.index import multi_agg, percentiles_agg

    q = Bool(must="return")
    got = multi_agg(
        spark, agg_idx,
        {"p": {"kind": "percentiles", "attr": "n_chars",
               "qs": [0.5, 0.95]},
         "s": {"kind": "stats", "attr": "n_chars"}},
        query=q,
    )
    assert got["p"] == percentiles_agg(spark, agg_idx, "n_chars",
                                       [0.5, 0.95], query=q)
    assert got["s"]["count"] > 0 and got["p"][0][1] is not None


# ------------------------------------------------------ significant_terms
def test_significant_terms_jlh(spark, agg_idx, ref):
    """significant_terms == brute-force JLH over (match-set, index)
    lang counts; only positively-correlated values return."""
    from bugzilla_etl_spark.index import significant_terms_agg

    q = Bool(must="uniq_13 uniq_23 uniq_33 uniq_43")
    got = significant_terms_agg(spark, agg_idx, "lang", q, size=100)
    fg = Counter(
        ref[d]["lang"]
        for d in _match(ref, must=["uniq_13", "uniq_23", "uniq_33",
                                   "uniq_43"])
    )
    bg = Counter(v["lang"] for v in ref.values())
    fg_t, bg_t = sum(fg.values()), sum(bg.values())
    want = []
    for key, b in bg.items():
        f = fg.get(key, 0)
        fr, br = f / fg_t, b / bg_t
        if f > 0 and fr > br:
            want.append((key, f, b, (fr - br) * (fr / br)))
    want.sort(key=lambda r: (-r[3], r[0]))
    assert [(k, f, b) for k, f, b, _ in got] == [
        (k, f, b) for k, f, b, _ in want
    ]
    for (_, _, _, gs), (_, _, _, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    assert got, "fixture must find significant langs"


def test_significant_terms_execution_parity_and_rails(spark, agg_idx):
    from bugzilla_etl_spark.index import significant_terms_agg

    q = Bool(must="uniq_13 uniq_23")
    a = significant_terms_agg(spark, agg_idx, "lang", q, execution="local")
    b = significant_terms_agg(spark, agg_idx, "lang", q, execution="spark")
    assert a == b
    with pytest.raises(ValueError, match="match_all"):
        significant_terms_agg(spark, agg_idx, "lang", Bool())
    # unmatchable gate: empty (bg exists, fg total is zero)
    assert significant_terms_agg(
        spark, agg_idx, "lang", Bool(must="qzx_nothere")
    ) == []


# ------------------------------------------------------- date_histogram
def test_date_histogram_calendar(spark, tmp_path):
    """Calendar-interval date_histogram == pandas UTC period starts ==
    SQL date_trunc, over an epoch-ms doc_attr."""
    import pandas as pd

    from bugzilla_etl_spark.index import date_histogram_agg, multi_agg

    base = 1_100_000_000_000  # 2004-11-09
    rows = [
        ("r", str(i), "c0", "en", f"alpha tok_{i % 4}",
         base + i * 7 * 86_400_000)  # weekly steps across ~2 years
        for i in range(100)
    ]
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "ts_ms"]
    )
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(pdf)
    build_index(spark, corpus, d, n_shards=2, n_tb=2, n_sb=2,
                doc_attrs=["ts_ms"])
    for cal, alias in [("month", "M"), ("week", "W-SUN"), ("year", "Y"),
                       ("quarter", "Q"), ("day", "D")]:
        got = date_histogram_agg(spark, d, "ts_ms", cal,
                                 query=Bool(must="alpha"))
        want_s = (
            pd.to_datetime(pdf["ts_ms"], unit="ms", utc=True)
            .dt.to_period(alias).dt.start_time.astype("int64") // 10**6
        )
        want = sorted(Counter(want_s).items())
        assert got == [(int(b), int(n)) for b, n in want], cal
    assert sum(n for _, n in got) == 100
    # multi_agg parity + validation
    ma = multi_agg(
        spark, d,
        {"m": {"kind": "date_histogram", "attr": "ts_ms",
               "calendar": "month"}},
        query=Bool(must="alpha"),
    )
    assert ma["m"] == date_histogram_agg(spark, d, "ts_ms", "month",
                                         query=Bool(must="alpha"))
    with pytest.raises(ValueError, match="calendar"):
        date_histogram_agg(spark, d, "ts_ms", "fortnight")
    with pytest.raises(ValueError, match="epoch-ms"):
        date_histogram_agg(spark, d, "lang", "month")


# ------------------------------------------------------------ composite
def _composite_ref(ref, sources, must=None):
    """Brute-force composite buckets: {key_tuple: count} over the docs
    matching ``must`` (OR semantics), skipping null source values."""
    from collections import Counter as _C
    import math as _m

    counts = _C()
    for d, v in ref.items():
        if must and not any(t in v["toks"] for t in must):
            continue
        key = []
        ok = True
        for s in sources:
            if isinstance(s, str):
                val = v[s]
            else:
                attr, interval = s
                raw = v[attr]
                val = (
                    None if raw is None
                    else _m.floor(raw / interval) * interval
                )
            if val is None:
                ok = False
                break
            key.append(val)
        if ok:
            counts[tuple(key)] += 1
    return counts


def test_composite_agg_pages_exact(spark, agg_idx, ref):
    from bugzilla_etl_spark.index import composite_agg

    sources = ["lang", ("n_chars", 1000)]
    want = _composite_ref(ref, sources)
    keys_sorted = sorted(want)
    pages, after = [], None
    for _ in range(100):
        page = composite_agg(
            spark, agg_idx, sources, size=7, after=after
        )
        if not page:
            break
        pages.extend(page)
        after = page[-1][0]
    got_keys = [k for k, _ in pages]
    assert got_keys == keys_sorted  # full walk: no overlap, no gap
    assert all(n == want[k] for k, n in pages)  # exact counts everywhere


def test_composite_agg_gated(spark, agg_idx, ref):
    from bugzilla_etl_spark.index import composite_agg

    got = composite_agg(
        spark, agg_idx, ["lang"], query=Bool(must="uniq_13 uniq_23"),
        size=50,
    )
    want = _composite_ref(ref, ["lang"], must=["uniq_13", "uniq_23"])
    assert got == sorted(((k, n) for k, n in want.items()))
    assert got


def test_composite_agg_validation(spark, agg_idx):
    from bugzilla_etl_spark.index import composite_agg

    with pytest.raises(ValueError, match="at least one source"):
        composite_agg(spark, agg_idx, [])
    with pytest.raises(ValueError, match="unknown sort attribute"):
        composite_agg(spark, agg_idx, ["nope"])
    with pytest.raises(ValueError, match="needs a numeric"):
        composite_agg(spark, agg_idx, [("lang", 10)])
    with pytest.raises(ValueError, match="after key has"):
        composite_agg(spark, agg_idx, ["lang"], after=("a", 1))


# -------------------------------------------------------------- filters
def test_filters_agg_named_buckets(spark, agg_idx, ref):
    from bugzilla_etl_spark.index import filters_agg

    q = Bool(must="return")
    got = filters_agg(
        spark, agg_idx,
        [
            ("long", [("n_chars", ">=", 2000)]),
            ("java", [("lang", "==", "java")]),
            ("long_java", [("n_chars", ">=", 2000), ("lang", "==", "java")]),
        ],
        query=q,
    )
    matches = [v for v in ref.values() if "return" in v["toks"]]
    want = [
        ("long", sum(1 for v in matches if v["n_chars"] >= 2000)),
        ("java", sum(1 for v in matches if v["lang"] == "java")),
        ("long_java", sum(
            1 for v in matches
            if v["n_chars"] >= 2000 and v["lang"] == "java"
        )),
    ]
    assert got == want
    assert all(n > 0 for _k, n in got), "fixture must exercise overlap"


def test_filters_agg_match_all_and_order(spark, agg_idx, ref):
    from bugzilla_etl_spark.index import filters_agg

    got = filters_agg(
        spark, agg_idx,
        {"z_last": [("lang", "==", "go")], "a_first": [("lang", "==", "c")]},
    )
    # requested (insertion) order, NOT name order
    assert [n for n, _ in got] == ["z_last", "a_first"]
    assert got[0][1] == sum(1 for v in ref.values() if v["lang"] == "go")
    assert got[1][1] == sum(1 for v in ref.values() if v["lang"] == "c")


def test_missing_agg(spark, small_corpus, tmp_path, ref):
    from bugzilla_etl_spark.index import missing_agg

    df = small_corpus.withColumn(
        "opt", F.when(F.col("lang") == "java", F.length("content"))
    )
    d = str(tmp_path / "idx")
    build_index(
        spark, df, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["opt"],
    )
    got = missing_agg(spark, d, "opt", query=Bool(must="return"))
    want = sum(
        1 for v in ref.values()
        if "return" in v["toks"] and v["lang"] != "java"
    )
    assert got == want > 0


def test_filters_agg_validation(spark, agg_idx):
    from bugzilla_etl_spark.index import filters_agg

    with pytest.raises(ValueError, match="at least one"):
        filters_agg(spark, agg_idx, [])
    with pytest.raises(ValueError, match="duplicate filter names"):
        filters_agg(spark, agg_idx, [("a", [("lang", "==", "c")]),
                                     ("a", [("lang", "==", "go")])])
    with pytest.raises(ValueError):
        filters_agg(spark, agg_idx, [("a", [("nope", "==", "x")])])


def test_adjacency_matrix_agg(spark, agg_idx, ref):
    from bugzilla_etl_spark.index import adjacency_matrix_agg, filters_agg

    q = Bool(must="return")
    named = [
        ("long", [("n_chars", ">=", 2000)]),
        ("java", [("lang", "==", "java")]),
        ("py", [("lang", "==", "python")]),
    ]
    got = adjacency_matrix_agg(spark, agg_idx, named, query=q)
    assert [n for n, _ in got] == [
        "long", "java", "py", "long&java", "long&py", "java&py",
    ]
    # singles agree with filters_agg exactly
    assert got[:3] == filters_agg(spark, agg_idx, named, query=q)
    matches = [v for v in ref.values() if "return" in v["toks"]]
    want = {
        "long&java": sum(
            1 for v in matches
            if v["n_chars"] >= 2000 and v["lang"] == "java"
        ),
        "long&py": sum(
            1 for v in matches
            if v["n_chars"] >= 2000 and v["lang"] == "python"
        ),
        "java&py": 0,  # disjoint langs — zeros stay in the output
    }
    assert dict(got[3:]) == want
    assert want["long&java"] > 0 and want["long&py"] > 0


def test_adjacency_matrix_separator_collision(spark, agg_idx):
    from bugzilla_etl_spark.index import adjacency_matrix_agg

    with pytest.raises(ValueError, match="separator"):
        adjacency_matrix_agg(
            spark, agg_idx, [("a&b", [("lang", "==", "c")]),
                             ("c", [("lang", "==", "go")])],
        )


# ---------------------------------------------------- significant_text
@pytest.fixture(scope="module")
def src_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sigtext") / "idx")
    build_index(
        spark, small_corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        store_source=True,
    )
    return d


def _sig_text_ref(ref, gate_term, size):
    matches = [v["toks"] for v in ref.values() if gate_term in v["toks"]]
    fg_total, bg_total = len(matches), len(ref)
    from collections import Counter

    fg = Counter()
    for ts in matches:
        fg.update(set(ts))
    out = []
    for t, fgc in fg.items():
        bgc = sum(1 for v in ref.values() if t in v["toks"])
        fgr, bgr = fgc / fg_total, bgc / bg_total
        if fgr > bgr:
            out.append((t, fgc, bgc, (fgr - bgr) * (fgr / bgr)))
    out.sort(key=lambda x: (-x[3], x[0]))
    return out[:size]


def test_significant_text_vs_reference(spark, src_idx, ref):
    from bugzilla_etl_spark.index import significant_text_agg

    got = significant_text_agg(
        spark, src_idx, Bool(must="struct"), size=8
    )
    want = _sig_text_ref(ref, "struct", 8)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) < 1e-12
    assert got and got[0][0] == "struct"  # the query term itself tops


def test_significant_text_sampling_bounded_and_deterministic(
    spark, src_idx
):
    from bugzilla_etl_spark.index import significant_text_agg

    a = significant_text_agg(
        spark, src_idx, Bool(must="return"), size=5, sample_per_bucket=3
    )
    b = significant_text_agg(
        spark, src_idx, Bool(must="return"), size=5, sample_per_bucket=3
    )
    assert a == b and a
    full = dict(
        (t, fg) for t, fg, _bg, _s in significant_text_agg(
            spark, src_idx, Bool(must="return"), size=1000
        )
    )
    for t, fg, _bg, _s in a:
        assert t not in full or fg <= full[t]


def test_significant_text_validation(spark, src_idx, agg_idx):
    from bugzilla_etl_spark.index import significant_text_agg

    with pytest.raises(ValueError, match="store_source"):
        significant_text_agg(spark, agg_idx, Bool(must="return"))
    with pytest.raises(ValueError, match="match_all"):
        significant_text_agg(spark, src_idx, Bool())


def test_terms_agg_order_options(spark, agg_idx, ref):
    from bugzilla_etl_spark.index import terms_agg

    default = terms_agg(spark, agg_idx, "lang", size=100)
    by_key = terms_agg(spark, agg_idx, "lang", size=100,
                       order=("_key", "asc"))
    assert sorted(default) == by_key  # same buckets, key order
    by_count_asc = terms_agg(spark, agg_idx, "lang", size=100,
                             order=("_count", "asc"))
    assert [n for _k, n in by_count_asc] == sorted(
        n for _k, n in default
    )
    # ascending-count top-N is EXACT here (no shard_size cut): the
    # N rarest buckets of the full map
    rare2 = terms_agg(spark, agg_idx, "lang", size=2,
                      order=("_count", "asc"))
    assert rare2 == by_count_asc[:2]
    with pytest.raises(ValueError, match="_count"):
        terms_agg(spark, agg_idx, "lang", order=("bogus", "asc"))
    with pytest.raises(ValueError, match="plain terms"):
        terms_agg(spark, agg_idx, "lang", order=("_key", "asc"),
                  sub_stats="n_chars")


def test_count_matches(spark, agg_idx, ref):
    from bugzilla_etl_spark.index import count_matches

    assert count_matches(spark, agg_idx) == len(ref)
    n = count_matches(spark, agg_idx, Bool(must="return"))
    assert n == sum(1 for v in ref.values() if "return" in v["toks"])
    n2 = count_matches(
        spark, agg_idx,
        Bool(must="return", filter=[("lang", "==", "python")]),
    )
    assert n2 == sum(
        1 for v in ref.values()
        if "return" in v["toks"] and v["lang"] == "python"
    )
    assert 0 < n2 < n
    assert count_matches(spark, agg_idx, Bool(must="zzznope")) == 0


def test_sig_text_in_multi_agg(spark, src_idx):
    """sig_text composes into one multi-agg request: same gate pass as
    the other facets, result identical to the single-agg function."""
    from bugzilla_etl_spark.index import multi_agg, significant_text_agg

    q = Bool(must="struct")
    got = multi_agg(
        spark, src_idx,
        {
            "sig": {"kind": "sig_text", "size": 6},
            "langs": {"kind": "terms", "attr": "lang", "size": 10},
        },
        query=q,
    )
    assert got["sig"] == significant_text_agg(spark, src_idx, q, size=6)
    assert got["sig"] and got["sig"][0][0] == "struct"
    assert got["langs"] and all(n > 0 for _k, n in got["langs"])


def test_sig_text_multi_agg_validation(spark, src_idx, agg_idx):
    from bugzilla_etl_spark.index import multi_agg

    with pytest.raises(ValueError, match="store_source"):
        multi_agg(spark, agg_idx, {"s": {"kind": "sig_text"}},
                  query=Bool(must="return"))
    with pytest.raises(ValueError, match="gated query"):
        multi_agg(spark, src_idx, {"s": {"kind": "sig_text"}})


# ------------------------------------------------- shared spec validation
def test_size_below_one_rejected(spark, agg_idx, src_idx):
    """size < 1 raises for every sized agg — a negative size used to
    reach pandas head(-1) / list[:-1] and drop the LAST buckets."""
    from bugzilla_etl_spark.index import (
        composite_agg,
        significant_terms_agg,
        significant_text_agg,
    )

    q = Bool(must="return")
    for size in (0, -1):
        with pytest.raises(ValueError, match="size must be >= 1"):
            terms_agg(spark, agg_idx, "lang", size=size)
        with pytest.raises(ValueError, match="size must be >= 1"):
            terms_agg(spark, agg_idx, "lang", size=size, sub_stats="n_chars")
        with pytest.raises(ValueError, match="size must be >= 1"):
            significant_terms_agg(spark, agg_idx, "lang", q, size=size)
        with pytest.raises(ValueError, match="size must be >= 1"):
            significant_text_agg(spark, src_idx, q, size=size)
        with pytest.raises(ValueError, match="size must be >= 1"):
            composite_agg(spark, agg_idx, ["lang"], size=size)
        with pytest.raises(ValueError, match="'by_lang': size must be >= 1"):
            multi_agg(spark, agg_idx, {"by_lang": {
                "kind": "terms", "attr": "lang", "size": size}})
        with pytest.raises(ValueError, match="'sig': size must be >= 1"):
            multi_agg(spark, src_idx, {"sig": {"kind": "sig_text",
                                               "size": size}}, query=q)
    # size=1 still cuts to the single top bucket
    assert terms_agg(spark, agg_idx, "lang", size=1) == terms_agg(
        spark, agg_idx, "lang", size=100
    )[:1]


def test_range_needs_ranges(spark, agg_idx):
    with pytest.raises(ValueError, match="'r': range needs at least one"):
        multi_agg(spark, agg_idx, {"r": {"kind": "range", "attr": "n_chars"}})
    with pytest.raises(ValueError, match="range needs at least one"):
        range_agg(spark, agg_idx, "n_chars", [])


def test_numeric_kinds_reject_string_attr(spark, agg_idx):
    """stats / range / histogram over a string attr raise (they used to
    coerce every value to NaN and report zero counts)."""
    with pytest.raises(ValueError, match="'lang' is a string"):
        stats_agg(spark, agg_idx, "lang")
    with pytest.raises(ValueError, match="'lang' is a string"):
        range_agg(spark, agg_idx, "lang", [(None, 10)])
    with pytest.raises(ValueError, match="'lang' is a string"):
        histogram_agg(spark, agg_idx, "lang", 10.0)
    for spec in (
        {"kind": "stats", "attr": "lang"},
        {"kind": "range", "attr": "lang", "ranges": [(0, 1)]},
        {"kind": "histogram", "attr": "lang", "interval": 5},
    ):
        with pytest.raises(ValueError, match="'x': .* is a string"):
            multi_agg(spark, agg_idx, {"x": spec})
