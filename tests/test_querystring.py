"""query_string parser: lowering onto Bool, dictionary expansion, and
execution parity with hand-built Bool objects / the tuned executors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import (
    Bool,
    bool_search,
    build_index,
    parse_query_string,
    query_string_search,
    search_many,
)
from bugzilla_etl_spark.index.manifest import IndexManifest


# ------------------------------------------------------------ parse-only
def test_default_or_bare_terms_become_should():
    q = parse_query_string("hash table")
    assert q.should == ("hash", "table")
    assert q.must == () and q.phrase == ()


def test_default_and_bare_terms_become_must():
    q = parse_query_string("hash table", default_operator="and")
    assert q.must == ("hash", "table") and q.should == ()


def test_plus_requires_rest_stays_should():
    q = parse_query_string("merge +hash batch")
    assert q.must == ("hash",)
    assert q.should == ("merge", "batch")


def test_minus_and_not_exclude():
    q = parse_query_string("+hash -stream NOT merge")
    assert q.must == ("hash",)
    assert set(q.must_not) == {"stream", "merge"}


def test_or_group_is_one_clause():
    q = parse_query_string("+(scan | sort) +hash")
    assert q.must == ("scan sort", "hash")
    q2 = parse_query_string("scan | sort", default_operator="and")
    assert q2.must == ("scan sort",)


def test_or_keyword_and_bare_pipe():
    q = parse_query_string("scan OR sort", default_operator="and")
    assert q.must == ("scan sort",)
    q2 = parse_query_string("a AND b")
    assert q2.must == ("a", "b")


def test_negated_group_each_term_excluded():
    q = parse_query_string("+hash -(scan | sort)")
    assert set(q.must_not) == {"scan", "sort"}


def test_phrase_slop_boost():
    q = parse_query_string('+hash "open addressing"~2^3')
    assert q.phrase == ("open addressing",)
    assert q.slop == 2
    assert q.phrase_boosts == (3.0,)
    assert q.must == ("hash",)


def test_term_boost_lowers_to_clause_boost():
    q = parse_query_string("+hash^2 +table")
    assert q.must == ("hash", "table")
    assert q.must_boosts == (2.0, 1.0)


def test_should_boost_must_be_uniform():
    q = parse_query_string("+hash merge^2 batch^2")
    assert q.should_boost == 2.0
    with pytest.raises(ValueError, match="ONE should_boost"):
        parse_query_string("+hash merge^2 batch^3")


def test_msm_passthrough():
    q = parse_query_string("scan sort merge", min_should_match=2)
    assert q.min_should_match == 2


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('-"a phrase"', "cannot be negated"),
        ("((a | b))", "nested groups"),
        ("(a b)", "alternatives only"),
        ("+", "dangling|empty"),
        ("(a |", "unterminated"),
        (")", "unbalanced"),
        ("a | +b", "expected a term or phrase"),
        ('"a b"~1 "c d"~2', "one slop"),
        ("(a^2 | b^3)", "one boost per clause"),
        ("term~3", "capped at 2"),
        ("*", "needs a literal"),
        ("", "empty"),
        ("AND a", "both sides"),
    ],
)
def test_parse_errors(bad, msg):
    with pytest.raises(ValueError, match=msg):
        parse_query_string(bad)


def test_fieldspec_needs_manifest():
    with pytest.raises(ValueError, match="manifest"):
        parse_query_string("lang:python")


def test_wildcard_needs_index():
    with pytest.raises(ValueError, match="dictionary"):
        parse_query_string("ret*")


# ------------------------------------------------------- with an index
@pytest.fixture(scope="module")
def qs_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qs") / "idx")
    corpus = small_corpus.withColumn("n_chars", F.length("content"))
    build_index(
        spark, corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
        doc_attrs=["n_chars"], positions=True,
        extra_fields={"ident": "path_v1", "ws": "code_v1_stop"},
    )
    return d


@pytest.fixture(scope="module")
def qs_m(qs_idx):
    return IndexManifest.load(qs_idx)


def test_filterspecs(qs_m, qs_idx):
    q = parse_query_string(
        "+return lang:python n_chars:>=100 -lang:go commit:*",
        m=qs_m, index_dir=qs_idx,
    )
    assert ("lang", "==", "python") in q.filter
    assert ("n_chars", ">=", 100) in q.filter
    assert ("lang", "!=", "go") in q.filter
    assert ("commit", "exists", True) in q.filter


def test_range_filter(qs_m, qs_idx):
    q = parse_query_string(
        "+return n_chars:[100 TO 300]", m=qs_m, index_dir=qs_idx
    )
    assert ("n_chars", ">=", 100) in q.filter
    assert ("n_chars", "<=", 300) in q.filter
    with pytest.raises(ValueError, match="disjunction"):
        parse_query_string(
            "+return -n_chars:[100 TO 300]", m=qs_m, index_dir=qs_idx
        )


def test_filter_value_typing(qs_m, qs_idx):
    with pytest.raises(ValueError, match="does not parse"):
        parse_query_string("n_chars:abc", m=qs_m, index_dir=qs_idx)
    with pytest.raises(ValueError, match="unknown field"):
        parse_query_string("nosuch:1", m=qs_m, index_dir=qs_idx)


def test_wildcard_expansion(qs_m, qs_idx):
    q = parse_query_string("+retur*", m=qs_m, index_dir=qs_idx)
    assert q.must == ("return",)


def test_wildcard_no_match_is_unmatchable(spark, qs_m, qs_idx):
    q = parse_query_string("+zzzqqq*", m=qs_m, index_dir=qs_idx)
    assert q.must[0].startswith("z0")
    assert query_string_search(spark, qs_idx, "+zzzqqq*") == []


def test_fuzzy_expansion(qs_m, qs_idx):
    q = parse_query_string("clasx~1", m=qs_m, index_dir=qs_idx)
    assert "class" in q.should[0].split()


def test_scoped_field_lowers_to_multi_match(qs_m, qs_idx):
    q = parse_query_string("+return ident:module3", m=qs_m, index_dir=qs_idx)
    assert q.multi_match == ("module3",)
    assert q.mm_fields == ("ident",)
    with pytest.raises(ValueError, match="one scoped analyzed field"):
        parse_query_string("ident:a ws:b x", m=qs_m, index_dir=qs_idx)
    # base docs columns win a name collision: lang is a filter, never
    # a scoped match
    q2 = parse_query_string("+return lang:python", m=qs_m, index_dir=qs_idx)
    assert q2.multi_match == () and ("lang", "==", "python") in q2.filter


# ----------------------------------------------------- execution parity
def test_qs_equals_hand_built_bool(spark, qs_idx):
    got = query_string_search(
        spark, qs_idx, '+return +class -struct lang:python "return int"'
    )
    want = bool_search(
        spark, qs_idx,
        Bool(
            must=("return", "class"),
            must_not=("struct",),
            filter=[("lang", "==", "python")],
            phrase=("return int",),
        ),
        k=10,
    )
    assert got == want


def test_qs_or_equals_search_many(spark, qs_idx):
    got = query_string_search(spark, qs_idx, "class | struct", k=10)
    want = search_many(spark, qs_idx, [(0, ["class", "struct"], 10)])[0]
    assert got == want


def test_default_and_operator_execution(spark, qs_idx):
    got = query_string_search(
        spark, qs_idx, "return class", default_operator="and", k=10
    )
    want = bool_search(
        spark, qs_idx, Bool(must=("return", "class")), k=10
    )
    assert got == want


def test_explain_qs_cli(qs_idx, capsys):
    from bugzilla_etl_spark.cli import main

    assert main([
        "explain", "--index", qs_idx, "--qs",
        "--query", '+return lang:python "return int"',
    ]) == 0
    import json

    out = json.loads(capsys.readouterr().out)
    assert out["matchable"] in (True, False)
    assert any("return" in str(c) for c in out["clauses"])


# ------------------------------------------------------ property fuzz
from hypothesis import given, settings, strategies as st

_TERM = st.from_regex(r"[a-z][a-z0-9_]{0,6}", fullmatch=True).filter(
    lambda t: t.upper() not in ("AND", "OR", "NOT") and t != "to"
)


@st.composite
def _qs_units(draw):
    """Well-formed query units assembled from the documented
    grammar: the parser must ACCEPT any whitespace-joining of them."""
    units = []
    n = draw(st.integers(1, 6))
    has_gate = False
    for _ in range(n):
        kind = draw(st.sampled_from(["term", "plus", "neg", "group",
                                     "phrase"]))
        if kind == "term":
            units.append(draw(_TERM))
        elif kind == "plus":
            units.append("+" + draw(_TERM))
            has_gate = True
        elif kind == "neg":
            units.append("-" + draw(_TERM))
        elif kind == "group":
            k = draw(st.integers(2, 3))
            terms = [draw(_TERM) for _ in range(k)]
            g = "(" + " | ".join(terms) + ")"
            if draw(st.booleans()):
                g = "+" + g
                has_gate = True
            units.append(g)
        else:
            ph = " ".join(draw(_TERM) for _ in range(draw(st.integers(2, 3))))
            units.append(f'"{ph}"')
            has_gate = True
    if not has_gate:
        units.append("+" + draw(_TERM))
    return units


@given(_qs_units())
@settings(max_examples=300, deadline=None)
def test_fuzz_wellformed_strings_parse(units):
    q = parse_query_string(" ".join(units))
    # every positive atom landed somewhere; nothing silently vanished
    n_units = (len(q.must) + len(q.should) + len(q.phrase)
               + len(q.must_not))
    assert n_units >= 1


@given(_qs_units(), st.sampled_from(["  ", "\t", "   "]))
@settings(max_examples=150, deadline=None)
def test_fuzz_whitespace_invariance(units, pad):
    a = parse_query_string(" ".join(units))
    b = parse_query_string(pad + pad.join(units) + pad)
    assert a == b


@given(st.text(
    alphabet="abc+-|()\"~^*?:[] 123", min_size=0, max_size=30,
))
@settings(max_examples=500, deadline=None)
def test_fuzz_arbitrary_input_never_misparses_silently(s):
    """Arbitrary operator soup either parses to a Bool or raises
    ValueError with a reason — never any other exception type."""
    try:
        q = parse_query_string(s)
    except ValueError:
        return
    from bugzilla_etl_spark.index import Bool

    assert isinstance(q, Bool)


def test_prefix_filter_spec(qs_m, qs_idx):
    q = parse_query_string("+return lang:py*", m=qs_m, index_dir=qs_idx)
    assert ("lang", "prefix", "py") in q.filter
    with pytest.raises(ValueError, match="string column"):
        parse_query_string("n_chars:1*", m=qs_m, index_dir=qs_idx)
    with pytest.raises(ValueError, match="negated prefix"):
        parse_query_string("+return -lang:py*", m=qs_m, index_dir=qs_idx)
