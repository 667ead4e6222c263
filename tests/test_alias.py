"""Multi-index alias: publish/resolve + fan-out search with per-member
statistics (ES query_then_fetch)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import (
    Bool,
    bool_search,
    build_index,
    multi_index_search,
    publish_alias,
    publish_index,
    resolve_alias,
)
from bugzilla_etl_spark.index.build import prepare_docs
from bugzilla_etl_spark.oracle import idf, impact
from bugzilla_etl_spark.tokenize import py_tokens


@pytest.fixture(scope="module")
def two_members(spark, small_corpus, tmp_path_factory):
    """Disjoint halves (by lang) built as separate indexes."""
    root = tmp_path_factory.mktemp("alias")
    a_langs = ("python", "java", "js")
    half_a = small_corpus.filter(F.col("lang").isin(*a_langs))
    half_b = small_corpus.filter(~F.col("lang").isin(*a_langs))
    dirs = []
    for name, half in (("a", half_a), ("b", half_b)):
        d = str(root / name)
        build_index(
            spark, half, d, n_shards=2, n_tb=2
        )
        dirs.append(d)
    toks = {}
    for i, half in enumerate((half_a, half_b)):
        rows = prepare_docs(half, 2).select("doc_id", "content").collect()
        toks[i] = {r["doc_id"]: py_tokens(r["content"]) for r in rows}
    return dirs, toks


def _member_scores(member_toks, term):
    n = len(member_toks)
    avgdl = sum(len(t) for t in member_toks.values()) / n
    df = sum(1 for ts in member_toks.values() if term in ts)
    return {
        d: idf(n, df) * impact(ts.count(term), len(ts), avgdl)
        for d, ts in member_toks.items()
        if term in ts
    }


def test_fanout_uses_per_member_stats(spark, two_members):
    dirs, toks = two_members
    got = multi_index_search(spark, dirs, Bool(must="struct"), k=40)
    assert got and len(got) == 40
    want = []
    for i in (0, 1):
        want.extend(
            (i, d, s) for d, s in _member_scores(toks[i], "struct").items()
        )
    want.sort(key=lambda x: (-x[2], x[1], x[0]))
    want = want[:40]
    assert [(m, d) for m, d, _s in got] == [(m, d) for m, d, _s in want]
    for (_m, _d, gs), (_m2, _d2, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)
    assert {m for m, _d, _s in got} == {0, 1}, "both members must place hits"


def test_fanout_query_string_and_member_topk_parity(spark, two_members):
    dirs, _ = two_members
    got = multi_index_search(spark, dirs, "+retur*", k=8)
    per = {
        i: bool_search(spark, d, Bool(must="return"), k=8)
        for i, d in enumerate(dirs)
    }
    want = sorted(
        ((i, did, s) for i, hits in per.items() for did, s in hits),
        key=lambda x: (-x[2], x[1], x[0]),
    )[:8]
    assert got == want


def test_alias_publish_resolve_roundtrip(spark, two_members, tmp_path):
    dirs, _ = two_members
    alias = str(tmp_path / "alias.json")
    assert publish_alias(dirs, alias) is None
    assert resolve_alias(alias) == [str(d) for d in dirs]
    prev = publish_alias(dirs[:1], alias)
    assert prev == [str(d) for d in dirs]
    assert resolve_alias(alias) == [dirs[0]]
    # a single-index POINTER resolves as a one-member alias
    ptr = str(tmp_path / "ptr.json")
    publish_index(dirs[1], ptr)
    assert resolve_alias(ptr) == [dirs[1]]
    with pytest.raises(ValueError, match="duplicate"):
        publish_alias([dirs[0], dirs[0]], alias)
    with pytest.raises(ValueError, match="at least one"):
        publish_alias([], alias)


def test_fanout_validation(spark, two_members):
    dirs, _ = two_members
    with pytest.raises(ValueError, match="at least one"):
        multi_index_search(spark, [], Bool(must="x"))
    with pytest.raises(ValueError, match="Bool or a query string"):
        multi_index_search(spark, dirs, 42)


def test_alias_search_cli(spark, two_members, tmp_path, capsys):
    import json

    from bugzilla_etl_spark.cli import main

    dirs, _ = two_members
    alias = str(tmp_path / "bugs.json")
    publish_alias(dirs, alias)
    assert main([
        "alias-search", "--alias", alias, "--query", "+struct", "-k", "5",
    ]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert len(rows) == 5
    assert all(r["index"] in [str(d) for d in dirs] for r in rows)


def test_global_stats_equals_merged_index(
    spark, small_corpus, two_members, tmp_path
):
    """dfs_query_then_fetch: the alias over two halves returns rank-
    AND score-identical results to the SAME corpus built as ONE index
    — the property per-member (local) stats cannot give."""
    dirs, _ = two_members
    merged_dir = str(tmp_path / "merged")
    build_index(
        spark, small_corpus, merged_dir, n_shards=2, n_tb=2,
    )
    q = Bool(must="struct merge", should=["vec"], must_not=["impl"])
    want = bool_search(spark, merged_dir, q, k=25)
    got = multi_index_search(spark, dirs, q, k=25, stats="global")
    assert [(d, round(s, 9)) for _m, d, s in got] == [
        (d, round(s, 9)) for d, s in want
    ]
    # and local stats genuinely differ (halves have different df/avgdl)
    loc = multi_index_search(spark, dirs, q, k=25, stats="local")
    assert [(d, s) for _m, d, s in loc] != [(d, s) for _m, d, s in got]


def test_global_stats_validation(spark, two_members):
    dirs, _ = two_members
    with pytest.raises(ValueError, match="needs a Bool"):
        multi_index_search(spark, dirs, "+struct", stats="global")
    with pytest.raises(ValueError, match="local|global"):
        multi_index_search(spark, dirs, Bool(must="x"), stats="nope")


def test_alias_count_and_terms_agg(spark, two_members, small_corpus):
    from bugzilla_etl_spark.index import (
        count_matches,
        multi_index_count,
        multi_index_terms_agg,
        terms_agg,
    )

    dirs, toks = two_members
    q = Bool(must="return")
    total = multi_index_count(spark, dirs, q)
    assert total == sum(
        count_matches(spark, d, q) for d in dirs
    )
    want = sum(
        1
        for i in (0, 1)
        for ts in toks[i].values()
        if "return" in ts
    )
    assert total == want and total > 0

    got = multi_index_terms_agg(spark, dirs, "lang", query=q, size=100)
    per = {}
    for d in dirs:
        for k_, n in terms_agg(spark, d, "lang", query=q, size=100):
            per[k_] = per.get(k_, 0) + n
    assert dict(got) == per and len(got) == 6
    assert got == sorted(got, key=lambda x: (-x[1], x[0]))
    bykey = multi_index_terms_agg(
        spark, dirs, "lang", query=q, size=100, order=("_key", "asc")
    )
    assert bykey == sorted(got)
    with pytest.raises(ValueError, match="_count"):
        multi_index_terms_agg(spark, dirs, "lang", order=("x", "asc"))


def test_rollover_lifecycle(spark, small_corpus, tmp_path):
    """ILM rollover: threshold crossed -> fresh empty member cloning
    the write member's mapping; ingestion and the alias fan-out span
    old + new immediately."""
    from bugzilla_etl_spark.index import (
        incremental_update,
        multi_index_count,
        multi_index_search,
        rollover,
    )
    from bugzilla_etl_spark.index.manifest import IndexManifest

    root = str(tmp_path / "gens")
    first = str(tmp_path / "gens" / "gen_00000")
    build_index(
        spark, small_corpus.limit(120), first, n_shards=2, n_tb=2,
        doc_attrs=["lang"],
    )
    alias = str(tmp_path / "bugs.json")
    publish_alias([first], alias)

    # below threshold: no-op
    assert rollover(alias, root, max_docs=10_000) is None
    # crossed: new empty member, mapping cloned, alias repointed
    new_dir = rollover(alias, root, max_docs=100)
    assert new_dir is not None
    from bugzilla_etl_spark.index import resolve_alias

    assert resolve_alias(alias) == [first, new_dir]
    m0, m1 = IndexManifest.load(first), IndexManifest.load(new_dir)
    assert (m1.n_docs, m1.segments) == (0, [])
    assert (m1.tokenizer, m1.n_shards, m1.doc_attr_types) == (
        m0.tokenizer, m0.n_shards, m0.doc_attr_types
    )
    # ingest lands in the NEW member; the alias spans both
    before = multi_index_count(spark, resolve_alias(alias))
    incremental_update(
        spark, small_corpus.subtract(small_corpus.limit(120)), new_dir
    )
    members = resolve_alias(alias)
    assert multi_index_count(spark, members) == 200
    assert before == 120
    hits = multi_index_search(spark, members, "+return", k=500)
    assert {m for m, _d, _s in hits} == {0, 1}
    # idempotent: thresholds re-evaluated against the NEW write member
    assert rollover(alias, root, max_docs=100) is None


def test_rollover_cli(spark, small_corpus, tmp_path, capsys):
    import json

    from bugzilla_etl_spark.cli import main

    first = str(tmp_path / "g" / "gen_00000")
    build_index(
        spark, small_corpus.limit(30), first, n_shards=2, n_tb=2,
    )
    alias = str(tmp_path / "a.json")
    publish_alias([first], alias)
    assert main(["rollover", "--alias", alias, "--root",
                 str(tmp_path / "g"), "--max-docs", "10"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["rolled_over"] and out["new_member"]


def test_merge_indexes_equals_global_alias_and_single_build(
    spark, small_corpus, two_members, tmp_path
):
    """Segment adoption: hardlinking the halves' segments under one
    root answers identically to (a) the dfs-global alias over the
    members and (b) a from-scratch single build of the same corpus.
    The second input gives one member a legacy manifest whose analyzer
    carries the ``:builtin`` doc_len suffix: same chain, so it merges
    and still takes an incremental update."""
    import json
    import shutil

    from bugzilla_etl_spark.index import incremental_update, merge_indexes
    from bugzilla_etl_spark.index.manifest import IndexManifest

    dirs, _ = two_members
    legacy = str(tmp_path / "legacy_b")
    shutil.copytree(dirs[1], legacy)
    with open(IndexManifest.path(legacy)) as f:
        raw = json.load(f)
    raw["tokenizer"] = "code_v1:builtin"
    with open(IndexManifest.path(legacy), "w") as f:
        json.dump(raw, f)

    scratch = str(tmp_path / "scratch")
    build_index(
        spark, small_corpus, scratch, n_shards=2, n_tb=2,
    )
    q = Bool(must="struct merge", should=["vec"], must_not=["impl"])
    want = bool_search(spark, scratch, q, k=25)
    for name, members in (("adopted", dirs), ("mixed", [dirs[0], legacy])):
        out = str(tmp_path / name)
        m = merge_indexes(members, out)
        assert m.n_docs == 200 and len(m.segments) == 2
        assert m.field_chain() == "code_v1"

        merged_hits = bool_search(spark, out, q, k=25)
        ali = multi_index_search(spark, members, q, k=25, stats="global")
        assert [(d, round(s, 9)) for _m, d, s in ali] == [
            (d, round(s, 9)) for d, s in merged_hits
        ]
        assert [(d, round(s, 9)) for d, s in merged_hits] == [
            (d, round(s, 9)) for d, s in want
        ]
    # the legacy member takes an append of the whole corpus: its own
    # rows are skipped, the other half lands in a new segment, and it
    # then answers like the single build
    assert incremental_update(spark, small_corpus, legacy).n_docs == 200
    assert [(d, round(s, 9)) for d, s in bool_search(spark, legacy, q, k=25)] == [
        (d, round(s, 9)) for d, s in want
    ]


def test_merge_indexes_validation(spark, small_corpus, two_members, tmp_path):
    from bugzilla_etl_spark.index import merge_indexes

    dirs, _ = two_members
    other = str(tmp_path / "othercfg")
    build_index(
        spark, small_corpus.limit(20), other, n_shards=4, n_tb=2,
    )
    with pytest.raises(ValueError, match="fixed config"):
        merge_indexes([dirs[0], other], str(tmp_path / "x"))
    with pytest.raises(ValueError, match="at least two"):
        merge_indexes([dirs[0]], str(tmp_path / "y"))
    out = str(tmp_path / "ok")
    merge_indexes(dirs, out)
    with pytest.raises(ValueError, match="already holds"):
        merge_indexes(dirs, out)


def test_concurrent_rollover_adds_exactly_one_member(
    spark, small_corpus, tmp_path
):
    """The alias lock serializes check->create->publish: N racing
    rollovers add exactly ONE member (the losers re-read and see the
    fresh empty write member under threshold)."""
    from concurrent.futures import ThreadPoolExecutor

    from bugzilla_etl_spark.index import rollover

    first = str(tmp_path / "g" / "gen_00000")
    build_index(
        spark, small_corpus.limit(40), first, n_shards=2, n_tb=2,
    )
    alias = str(tmp_path / "a.json")
    publish_alias([first], alias)
    with ThreadPoolExecutor(8) as ex:
        results = list(
            ex.map(
                lambda _i: rollover(alias, str(tmp_path / "g"), max_docs=10),
                range(8),
            )
        )
    created = [r for r in results if r is not None]
    assert len(created) == 1, results
    assert resolve_alias(alias) == [first, created[0]]


def test_alias_score_pagination_global_stats(spark, two_members):
    """Alias-wide deep pagination: the score cursor walks the merged
    ranking exactly (global stats make scores comparable; the cursor
    applies inside every member's buckets)."""
    dirs, _ = two_members
    q = Bool(must="struct")
    full = multi_index_search(spark, dirs, q, k=500, stats="global")
    pages, cursor = [], None
    for _ in range(200):
        pg = multi_index_search(
            spark, dirs, q, k=9, stats="global", search_after=cursor
        )
        if not pg:
            break
        pages.extend(pg)
        cursor = (pg[-1][2], pg[-1][1])  # (last_score, last_doc_id)
    assert pages == full and len(full) > 20
    with pytest.raises(ValueError, match="stats='global'"):
        multi_index_search(spark, dirs, q, search_after=(1.0, 2))
