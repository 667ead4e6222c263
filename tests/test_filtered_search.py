"""Filtered top-k: docs-dimension predicates applied inside the bucket
scorers BEFORE the heap (VERDICT r3 #1 — the reference's combined
not_analyzed-term-filter + fulltext query, bug_version.json:57-65,
221-224).
"""

from __future__ import annotations

import math
import threading

import numpy as np
import pytest

from bugzilla_etl_spark.codec import varint_encode
from bugzilla_etl_spark.corpus import generate_corpus
from bugzilla_etl_spark.index import build_index, incremental_update, merge_segments, search_many
from bugzilla_etl_spark.index.build import delete_docs, prepare_docs
from bugzilla_etl_spark.index.predicate import _prefix_upper, to_arrow, to_spark, to_sql, validate
from bugzilla_etl_spark.index.postings import BlockList, TermPostings
from bugzilla_etl_spark.index.query import _score_maxscore
from bugzilla_etl_spark.oracle import build_oracle

QUERIES = [
    (1, "return int", 10),       # two hot terms (multi-hot path)
    (2, "uniq_13 return", 10),   # selective + hot (MaxScore prune path)
    (3, "for", 10),              # single hot
    (4, "r5_sym1 fn impl", 10),
]

PREDICATES = [
    [("lang", "==", "python")],
    [("lang", "in", ["go", "rust"])],
    [("path", "prefix", "src/module1")],
    [("repo", "!=", "org0/repo4"), ("lang", "not_in", ["c"])],
    [("doc_len", ">=", 300)],
]


@pytest.fixture(scope="module")
def filtered_index(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fidx") / "idx")
    build_index(
        spark, small_corpus, d,
        n_shards=4, n_tb=4, n_salts=2, n_sb=2, block_size=16,
    )
    prepared = prepare_docs(small_corpus, 4)
    prepared.persist().count()
    oracle = build_oracle(
        (r["doc_id"], r["content"])
        for r in prepared.select("doc_id", "content").collect()
    )
    return d, prepared, oracle


@pytest.mark.parametrize("pred", PREDICATES, ids=[str(i) for i in range(len(PREDICATES))])
def test_filtered_matches_oracle(spark, filtered_index, pred):
    d, prepared, oracle = filtered_index
    allowed = {
        r["doc_id"] for r in prepared.filter(to_spark(pred)).select("doc_id").collect()
    }
    assert allowed, "fixture predicate must be non-vacuous"
    res = search_many(spark, d, QUERIES, predicate=pred)
    for qid, text, k in QUERIES:
        want = oracle.search(text, k, allowed=allowed)
        got = res[qid]
        assert [x for x, _ in got] == [x for x, _ in want], (pred, text, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9)
        assert all(x in allowed for x, _ in got)


def test_filtered_empty_predicate_result(spark, filtered_index):
    d, _, _ = filtered_index
    res = search_many(spark, d, QUERIES, predicate=[("lang", "==", "cobol")])
    assert all(v == [] for v in res.values())


def test_filtered_composes_with_tombstones(spark, filtered_index, tmp_path):
    """Predicate + tombstones together: deleted docs stay gone even when
    the predicate would allow them."""
    import shutil

    d0, prepared, oracle = filtered_index
    d = str(tmp_path / "idx")
    shutil.copytree(d0, d)
    pred = [("lang", "==", "python")]
    py_ids = [
        r["doc_id"] for r in prepared.filter(to_spark(pred)).select("doc_id").collect()
    ]
    dead = sorted(py_ids)[:5]
    delete_docs(spark, d, dead, auto_compact_ratio=None)
    res = search_many(spark, d, QUERIES, predicate=pred)
    allowed = set(py_ids) - set(dead)
    # deletes shift the ENGINE's global stats (manifest n_docs/avgdl),
    # so the reference ranking is the engine's own unfiltered ranking
    # post-filtered to the allowed set — predicate-inside-the-heap must
    # agree with filter-after-exhaustive at identical stats
    wide = search_many(spark, d, [(q, t, 10_000) for q, t, _ in QUERIES])
    for qid, text, k in QUERIES:
        want = [(x, s) for x, s in wide[qid] if x in allowed][:k]
        got = res[qid]
        assert got == want, (text, got[:3], want[:3])
        assert all(x not in dead and x in allowed for x, _ in got)


def test_doc_attrs_roundtrip(spark, tmp_path):
    """Extra corpus columns declared via doc_attrs land in the docs
    dimension, survive incremental + merge, and are filterable."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "idx")
    corpus = generate_corpus(spark, 120, partitions=4).withColumn(
        "stars", (F.xxhash64("path") % 100 + 100) % 100
    )
    build_index(
        spark, corpus, d, n_shards=2, n_tb=2,
        doc_attrs=["stars"],
    )
    inc = generate_corpus(spark, 60, start=120, partitions=4).withColumn(
        "stars", (F.xxhash64("path") % 100 + 100) % 100
    )
    incremental_update(spark, inc, d)
    merge_segments(spark, d)
    both = corpus.unionByName(inc)
    prepared = prepare_docs(both, 2).withColumn(
        "stars", (F.xxhash64("path") % 100 + 100) % 100
    )
    oracle = build_oracle(
        (r["doc_id"], r["content"])
        for r in prepared.select("doc_id", "content").collect()
    )
    pred = [("stars", ">=", 50)]
    allowed = {
        r["doc_id"] for r in prepared.filter(to_spark(pred)).select("doc_id").collect()
    }
    res = search_many(spark, d, QUERIES, predicate=pred)
    for qid, text, k in QUERIES:
        want = oracle.search(text, k, allowed=allowed)
        assert [x for x, _ in res[qid]] == [x for x, _ in want], (text,)


# ------------------------------------------------- pruning stays active
def _mk_hot_list(idf: float, n_blocks: int, docs_per_block: int, avgdl: float):
    """Synthetic single-term hot list: block j holds docs with tf=n_blocks+2-j,
    so block bounds strictly descend with j."""
    from bugzilla_etl_spark.index.build import _impact

    tl = BlockList(idf, 1.2, 0.75, avgdl)
    doc = 1000
    for j in range(n_blocks):
        ids = np.arange(doc, doc + docs_per_block, dtype=np.uint64)
        doc += docs_per_block + 7
        tf = np.full(docs_per_block, n_blocks + 2 - j, dtype=np.int64)
        dl = np.full(docs_per_block, int(avgdl), dtype=np.int64)
        imp = _impact(tf, dl, avgdl, 1.2, 0.75)
        gaps = np.empty(docs_per_block, dtype=np.uint64)
        gaps[0] = ids[0]
        gaps[1:] = np.diff(ids)
        tl.add_block(
            ids[0], ids[-1], float(imp.max()), docs_per_block,
            varint_encode(gaps), varint_encode(tf.astype(np.uint64)),
            varint_encode(dl.astype(np.uint64)),
        )
    tp = TermPostings()
    tp.subs[(0, 0)] = tl
    tp.seal()
    return tp


def test_filtered_multi_hot_still_skips_blocks():
    """The allowed-set filter must not disable impact-ordered early
    termination: with a selective predicate over a hot term, most blocks
    are never decoded (VERDICT r3 #1 'pruning still skips blocks')."""
    n_blocks = 64
    # >4096 postings so the list classifies as HOT (multi-hot scorer)
    tp = _mk_hot_list(idf=1.0, n_blocks=n_blocks, docs_per_block=80, avgdl=10.0)
    tl = tp.subs[(0, 0)]
    lists = {"t": tp}
    # allow only docs from the top-impact block (plus absent ids)
    allowed = np.sort(
        np.concatenate([tl.decode(0)[0][:2], np.array([5, 7], dtype=np.uint64)])
    )
    tl._dec.clear()
    got = _score_maxscore(["t"], lists, np.array([], dtype=np.int64), 2, allowed)
    assert len(got) == 2
    decoded = len(tl._dec)
    assert decoded < n_blocks // 2, f"decoded {decoded}/{n_blocks} blocks"
    # scores are the exact impacts of the allowed docs
    d0, imp0, _ = tl.decode(0)
    assert math.isclose(got[0][1], imp0[0], abs_tol=1e-12)


# ------------------------------------------------------- spec compilers
def test_predicate_compilers_agree():
    import duckdb
    import pyarrow as pa

    tbl = pa.table(
        {
            "lang": ["python", "go", "rust", "c", "python"],
            "path": ["src/a", "src/b", "lib/c", "src/aa", "x"],
            "n": [1, 5, 9, 3, 7],
        }
    )
    preds = [
        [("lang", "==", "python")],
        [("lang", "in", ["go", "rust"]), ("n", ">", 4)],
        [("path", "prefix", "src/a")],
        [("n", "not_in", [1, 3]), ("n", "<=", 7)],
    ]
    con = duckdb.connect()
    con.register("t", tbl)
    import pyarrow.dataset as ds

    for p in preds:
        validate(p)
        got = set(
            ds.dataset(tbl).to_table(filter=to_arrow(p))["n"].to_pylist()
        )
        want = {
            r[0] for r in con.execute(f"SELECT n FROM t WHERE {to_sql(p)}").fetchall()
        }
        assert got == want, p


def test_prefix_upper_edge_cases():
    assert _prefix_upper("ab") == "ac"
    assert _prefix_upper("a" + chr(0x10FFFF)) == "b"
    assert _prefix_upper(chr(0x10FFFF)) is None
    with pytest.raises(ValueError):
        validate([("col", "like", "x")])


def test_tombstones_negative_idf_exact(spark, filtered_index, tmp_path):
    """Heavy deletion pushes a hot term's df past the live N, so its idf
    goes NEGATIVE (Lucene deleted-doc docFreq until compaction). The
    scorer must stay exact: pruning bounds are clamped at 0 (a doc
    absent from a negative-idf term scores 0, above that term's bound),
    and tombstoned docs never surface."""
    import shutil
    from collections import Counter

    from bugzilla_etl_spark.index.manifest import IndexManifest
    from bugzilla_etl_spark.oracle import idf, impact
    from bugzilla_etl_spark.tokenize import py_analyze

    d0, prepared, _ = filtered_index
    d = str(tmp_path / "idx")
    shutil.copytree(d0, d)
    # tombstone the current top-15 of a hot query (> k=10)
    top = search_many(spark, d, [(0, "return int", 15)])[0]
    dead = [x for x, _ in top]
    delete_docs(spark, d, dead, auto_compact_ratio=None)

    meta = {
        int(r["doc_id"]): r["content"]
        for r in prepared.select("doc_id", "content").collect()
    }
    m = IndexManifest.load(d)
    alive = set(meta) - set(dead)
    tfs = {i: Counter(py_analyze(meta[i])) for i in meta}
    n = len(alive)
    avgdl = sum(sum(tfs[i].values()) for i in alive) / n
    # the fixture's hottest term must actually be in the negative-idf
    # regime, or this test is vacuous
    df_ret = sum(1 for i in meta if tfs[i]["return"] > 0)
    assert df_ret > n, "fixture must produce df > live N"

    def exhaustive(q, k=10):
        terms = sorted(set(py_analyze(q)))
        scores = {}
        for t in terms:
            df = sum(1 for i in meta if tfs[i][t] > 0)  # PHYSICAL df
            w = idf(n, df)
            for i in alive:
                if tfs[i][t]:
                    scores[i] = scores.get(i, 0.0) + w * impact(
                        tfs[i][t], sum(tfs[i].values()), avgdl
                    )
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    for q in ["return int", "for", "uniq_13 return", "r5_sym1 fn impl"]:
        want = exhaustive(q)
        mx = search_many(spark, d, [(0, q, 10)])[0]
        assert [x for x, _ in mx] == [x for x, _ in want], q
        for (_, gs), (_, ws) in zip(mx, want):
            assert math.isclose(gs, ws, abs_tol=1e-9)
        assert all(x not in dead for x, _ in mx)


def test_typed_doc_attrs_mapping(spark, tmp_path):
    """VERDICT r4 #6: the manifest records each doc_attr's Spark type at
    build (the dynamic-template discipline of bug_version.json:40-66);
    query-time predicates with type-incoherent literals RAISE instead of
    silently mis-filtering (string ts vs int literal would otherwise
    range-compare lexicographically in pyarrow); appended batches with a
    drifted attr type are rejected."""
    from pyspark.sql import functions as F

    from bugzilla_etl_spark.index import search
    from bugzilla_etl_spark.index.manifest import IndexManifest

    d = str(tmp_path / "idx")
    corpus = generate_corpus(spark, 60, partitions=2).withColumn(
        "stars", (F.xxhash64("path") % 100 + 100) % 100
    ).withColumn("owner", F.concat(F.lit("team"), (F.xxhash64("repo") % 3).cast("string")))
    build_index(
        spark, corpus, d, n_shards=2, n_tb=2,
        doc_attrs=["stars", "owner"],
    )
    m = IndexManifest.load(d)
    assert m.doc_attr_types == {"stars": "bigint", "owner": "string"}

    # well-typed predicates work
    assert search(spark, d, "return int", k=5, predicate=[("stars", ">=", 50)])
    search(spark, d, "return int", k=5, predicate=[("owner", "==", "team0")])

    # int literal against the string column: raises, never mis-filters
    with pytest.raises(ValueError, match="incompatible"):
        search(spark, d, "return int", k=5, predicate=[("owner", ">=", 100)])
    # string literal against the int column
    with pytest.raises(ValueError, match="incompatible"):
        search(spark, d, "return int", k=5, predicate=[("stars", "==", "50")])
    # prefix needs a string column
    with pytest.raises(ValueError, match="prefix"):
        search(spark, d, "return int", k=5, predicate=[("stars", "prefix", "5")])
    # in-list elements are each checked
    with pytest.raises(ValueError, match="incompatible"):
        search(spark, d, "return int", k=5, predicate=[("owner", "in", ["team0", 7])])
    # unknown column: clear error listing the dimension
    with pytest.raises(ValueError, match="unknown predicate column"):
        search(spark, d, "return int", k=5, predicate=[("nope", "==", 1)])
    # base docs columns are typed too (lang is a string)
    with pytest.raises(ValueError, match="incompatible"):
        search(spark, d, "return int", k=5, predicate=[("lang", "<=", 3)])

    # appended batch with a drifted attr type is rejected outright
    drifted = generate_corpus(spark, 30, start=60, partitions=2).withColumn(
        "stars", F.lit("many")
    ).withColumn("owner", F.lit("team0"))
    with pytest.raises(ValueError, match="type drift"):
        incremental_update(spark, drifted, d)


def test_local_execution_parity(spark, filtered_index):
    """Cost-based execution (round 5): selective batches run the SAME
    bucket scorers in the driver instead of a Spark job. Forced local
    and forced spark must be bit-identical on every query shape — incl.
    predicates — because the scorer callables are shared; auto must
    match both."""
    d, prepared, oracle = filtered_index
    batches = [
        [(0, "return int", 10), (1, "uniq_13", 5)],
        [(0, "r5_sym1 fn impl", 10)],
    ]
    preds = [None, [("lang", "==", "python")]]
    for qs in batches:
        for pred in preds:
            a = search_many(spark, d, qs, predicate=pred, execution="spark")
            b = search_many(spark, d, qs, predicate=pred, execution="local")
            c = search_many(spark, d, qs, predicate=pred)
            assert a == b == c, (qs, pred)
    with pytest.raises(ValueError, match="execution"):
        search_many(spark, d, batches[0], execution="driver")


@pytest.fixture(scope="module")
def wide_index(spark, tmp_path_factory):
    """52k three-token docs with a 4-d embedding: the hot term ``alpha``
    alone, and kNN's every-doc scan, are past the fixed gate's 50k
    postings; one segment of eight work items (two waves at local[4])."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("widx") / "idx")
    i = F.col("id")
    corpus = spark.range(52_000).select(
        F.concat(F.lit("org/r"), (i % 7).cast("string")).alias("repo"),
        F.concat(F.lit("src/f"), i.cast("string"), F.lit(".py")).alias("path"),
        F.lit("c0").alias("commit"),
        F.when(i % 3 == 0, "python").otherwise("go").alias("lang"),
        F.concat_ws(
            " ", F.lit("alpha"),
            F.when(i % 2 == 0, "beta").otherwise("gamma"),
            F.concat(F.lit("t"), (i % 97).cast("string")),
        ).alias("content"),
        F.array(*[F.sin(i * (j + 1) * 0.37 + j) for j in range(4)]).alias("embedding"),
    )
    build_index(spark, corpus, d, n_shards=8, n_tb=4, n_sb=8, doc_attrs=["embedding"])
    return d


def test_local_execution_parity_at_moved_boundary(spark, wide_index, monkeypatch):
    """Requests the fixed 50k gate sent to Spark and the route model runs
    in the driver: auto takes the local route and equals forced local
    and forced spark exactly — a search_many batch, a Bool batch (priced
    per candidate, C_CAND_MS), a terms aggregation and a kNN batch."""
    from bugzilla_etl_spark.index import Bool, bool_search_many, terms_agg
    from bugzilla_etl_spark.index import query as Q
    from bugzilla_etl_spark.index.knn import knn_search_many

    d = wide_index
    routed, fanouts = [], []
    real_route, real_tasks = Q.route, Q.bucket_tasks_df

    def spy_route(n_work, est, *a, **kw):
        r = real_route(n_work, est, *a, **kw)
        routed.append((n_work, est, kw["c_post_ms"], r[0]))
        return r

    def spy_tasks(*a, **kw):
        fanouts.append(1)
        return real_tasks(*a, **kw)

    monkeypatch.setattr(Q, "route", spy_route)
    monkeypatch.setattr(Q, "bucket_tasks_df", spy_tasks)
    requests = {
        "search_many": lambda ex: search_many(
            spark, d, [(0, "alpha", 10), (1, "beta t5", 10)], execution=ex
        ),
        "bool": lambda ex: bool_search_many(
            spark, d,
            [(0, Bool(must=("alpha", "beta gamma"), must_not="t7"), 10),
             (1, Bool(must=("t5", "beta"), must_not="t7"), 10)],
            execution=ex,
        ),
        "terms_agg": lambda ex: terms_agg(spark, d, "lang", execution=ex),
        "knn": lambda ex: knn_search_many(
            spark, d, [(0, [1.0, 0.0, -1.0, 0.5], 5), (1, [0.0, 1.0, 1.0, -1.0], 5)],
            execution=ex,
        ),
    }
    for name, run in requests.items():
        routed.clear()
        fanouts.clear()
        auto = run("auto")
        assert routed and not fanouts, (name, routed)
        for n_work, est, c_post, r in routed:
            assert not (est <= Q.LOCAL_MAX_POSTINGS and n_work <= Q.LOCAL_MAX_BUCKETS)
            assert (c_post == Q.C_CAND_MS) == (name == "bool"), name
            assert r == "local", (name, n_work, est)
        local = run("local")
        spark_ = run("spark")
        assert fanouts, name
        assert auto, name
        assert auto == local == spark_, name


def test_local_execution_parity_phrase_and_nested(spark, small_corpus, tmp_path):
    from bugzilla_etl_spark.index import (
        build_index,
        nested_search_many,
        phrase_search_many,
    )

    d = str(tmp_path / "idx")
    corpus = small_corpus.limit(120)
    build_index(
        spark, corpus, d, n_shards=4, n_tb=4,
        positions=True, doc_attrs=["lang"],
    )
    qs = [(0, "return int", 10), (1, "fn impl", 10)]
    for scoring in ("gate", "phrase_freq"):
        a = phrase_search_many(spark, d, qs, scoring=scoring, execution="spark")
        b = phrase_search_many(spark, d, qs, scoring=scoring, execution="local")
        assert a == b == phrase_search_many(spark, d, qs, scoring=scoring)
    # nested: lang doubles as a (degenerate) parent attr test? no —
    # parent must be int64; reuse doc-level rollup via a planted parent
    from pyspark.sql import functions as F

    d2 = str(tmp_path / "idx2")
    child = corpus.withColumn(
        "parent", (F.xxhash64("repo") % 100 + 100) % 100
    )
    build_index(
        spark, child, d2, n_shards=4, n_tb=4,
        doc_attrs=["parent"],
    )
    for mode in ("avg", "sum"):
        a = nested_search_many(spark, d2, qs, "parent", score_mode=mode,
                               execution="spark")
        b = nested_search_many(spark, d2, qs, "parent", score_mode=mode,
                               execution="local")
        assert a == b == nested_search_many(spark, d2, qs, "parent", score_mode=mode)


@pytest.fixture(scope="module")
def nested_pos_index(spark, small_corpus, tmp_path_factory):
    """Positional index with a planted int64 parent attr: serves every
    entry that resolves a predicate into a bucket's allowed set."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("npidx") / "idx")
    child = small_corpus.limit(120).withColumn(
        "parent", (F.xxhash64("repo") % 100 + 100) % 100
    )
    build_index(
        spark, child, d, n_shards=4, n_tb=4, n_sb=2,
        positions=True, doc_attrs=["parent"],
    )
    return d


def _run_entry(spark, d, entry, predicate, execution):
    from bugzilla_etl_spark.index import (
        multi_match_search_many,
        nested_search_many,
        phrase_search_many,
    )

    qs = [(0, "return int", 10), (1, "fn impl", 10)]
    if entry == "search_many":
        return search_many(spark, d, qs, predicate=predicate, execution=execution)
    if entry == "phrase_search_many":
        return phrase_search_many(
            spark, d, qs, predicate=predicate, execution=execution
        )
    if entry == "multi_match_search_many":
        return multi_match_search_many(
            spark, d, qs, ["content"], predicate=predicate, execution=execution
        )
    return nested_search_many(
        spark, d, qs, "parent", predicate=predicate, execution=execution
    )


@pytest.mark.parametrize("execution", ["local", "spark"])
@pytest.mark.parametrize(
    "entry",
    ["search_many", "phrase_search_many", "multi_match_search_many",
     "nested_search_many"],
)
def test_empty_predicate_is_no_filter(spark, nested_pos_index, entry, execution):
    """``predicate=[]`` is an empty conjunction: it filters nothing, on
    every entry and on both execution harnesses (it used to compile to
    a None arrow expression and crash the bucket scorer)."""
    want = _run_entry(spark, nested_pos_index, entry, None, execution)
    assert any(want.values()), "fixture queries must match"
    assert _run_entry(spark, nested_pos_index, entry, [], execution) == want


def test_must_not_matches_oracle(spark, filtered_index):
    """Round 5: ES bool.must_not text terms — docs containing ANY
    negative term are excluded from results with positive-term scores
    UNCHANGED (filter context), through both execution paths."""
    from bugzilla_etl_spark.tokenize import py_tokens

    d, prepared, oracle = filtered_index
    toks = {
        r["doc_id"]: set(py_tokens(r["content"]))
        for r in prepared.select("doc_id", "content").collect()
    }
    cases = [
        (["return", "int"], ["fn"]),
        (["r5_sym1", "impl"], ["struct", "const"]),
        (["for"], ["uniq_13"]),
    ]
    for q, neg in cases:
        full = dict(oracle.search(" ".join(q), len(toks)))
        want = [
            (doc, s)
            for doc, s in sorted(full.items(), key=lambda x: (-x[1], x[0]))
            if not (toks[doc] & set(neg))
        ][:10]
        for execution in ("spark", "local"):
            got = search_many(
                spark, d, [(0, " ".join(q), 10)], must_not=neg,
                execution=execution,
            )[0]
            assert [x for x, _ in got] == [x for x, _ in want], (q, neg)
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, abs_tol=1e-9)
    # absent negative term: complete no-op
    base = search_many(spark, d, [(0, "return int", 10)])[0]
    assert search_many(
        spark, d, [(0, "return int", 10)], must_not=["qzx_missing"]
    )[0] == base
    # negating a query's own term empties the result
    assert search_many(
        spark, d, [(0, "uniq_13", 10)], must_not=["uniq_13"]
    )[0] == []


def test_must_not_phrase_and_nested(spark, small_corpus, tmp_path):
    from pyspark.sql import functions as F

    from bugzilla_etl_spark.index import (
        build_index,
        nested_search,
        phrase_search,
    )
    from bugzilla_etl_spark.tokenize import py_tokens

    d = str(tmp_path / "idx")
    corpus = small_corpus.limit(120).withColumn(
        "parent", (F.xxhash64("repo") % 50 + 50) % 50
    )
    build_index(
        spark, corpus, d, n_shards=2, n_tb=2,
        positions=True, doc_attrs=["parent"],
    )
    rows = prepare_docs(corpus, 2).select("doc_id", "content", "parent").collect()
    toks = {r["doc_id"]: py_tokens(r["content"]) for r in rows}
    # phrase with exclusion: every hit lacks the negative term
    full = phrase_search(spark, d, "return int", k=1000)
    neg = phrase_search(spark, d, "return int", k=1000, must_not=["fn"])
    want = [(doc, s) for doc, s in full if "fn" not in toks[doc]]
    assert neg == want and len(neg) < len(full)
    # nested: children with the negative term can't match; their parent
    # can still match through another child
    got = nested_search(spark, d, "return int", "parent", k=100,
                        score_mode="none", must_not=["fn"])
    child_ok = {
        r["parent"]
        for r in rows
        if {"return", "int"} <= set(toks[r["doc_id"]])
        and "fn" not in toks[r["doc_id"]]
    }
    assert sorted(p for p, _ in got) == sorted(child_ok)


def test_operator_and_matches_oracle(spark, filtered_index):
    """Round 5: ES match operator=and — only docs containing EVERY query
    term match; surviving docs keep their should-semantics scores
    exactly. Composes with predicate and must_not."""
    from bugzilla_etl_spark.tokenize import py_tokens

    d, prepared, oracle = filtered_index
    toks = {
        r["doc_id"]: set(py_tokens(r["content"]))
        for r in prepared.select("doc_id", "content").collect()
    }
    for q in [["return", "int"], ["r5_sym1", "fn", "impl"], ["uniq_13", "for"]]:
        full = dict(oracle.search(" ".join(q), len(toks)))
        want = [
            (doc, s)
            for doc, s in sorted(full.items(), key=lambda x: (-x[1], x[0]))
            if set(q) <= toks[doc]
        ][:10]
        for execution in ("spark", "local"):
            got = search_many(
                spark, d, [(0, " ".join(q), 10)], operator="and",
                execution=execution,
            )[0]
            assert [x for x, _ in got] == [x for x, _ in want], q
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, abs_tol=1e-9)
    # an absent term empties the conjunction
    assert search_many(
        spark, d, [(0, "return qzx_missing", 10)], operator="and"
    )[0] == []
    # operator=and + must_not + predicate compose
    got = search_many(
        spark, d, [(0, "return int", 10)], operator="and",
        must_not=["fn"], predicate=[("lang", "==", "python")],
    )[0]
    langs = {
        r["doc_id"]: r["lang"]
        for r in prepared.select("doc_id", "lang").collect()
    }
    full = dict(oracle.search("return int", len(toks)))
    want = [
        (doc, s)
        for doc, s in sorted(full.items(), key=lambda x: (-x[1], x[0]))
        if {"return", "int"} <= toks[doc]
        and "fn" not in toks[doc]
        and langs[doc] == "python"
    ][:10]
    assert [x for x, _ in got] == [x for x, _ in want]
    with pytest.raises(ValueError, match="operator"):
        search_many(spark, d, [(0, "return", 5)], operator="xor")


def test_min_should_match_matches_oracle(spark, filtered_index):
    """Round 5: ES minimum_should_match — at least m query terms must
    occur; surviving docs keep should-semantics scores. The candidate
    set is the union of the (n-m+1) RAREST terms' lists (a doc missing
    all of them holds at most m-1 terms), verified exact vs the
    exhaustive oracle; m=1 == plain OR; m=n == AND."""
    from bugzilla_etl_spark.tokenize import py_tokens

    d, prepared, oracle = filtered_index
    toks = {
        r["doc_id"]: set(py_tokens(r["content"]))
        for r in prepared.select("doc_id", "content").collect()
    }
    q = ["return", "int", "uniq_13", "r5_sym1"]
    text = " ".join(q)
    full = dict(oracle.search(text, len(toks)))
    for msm in (2, 3, 4):
        want = [
            (doc, s)
            for doc, s in sorted(full.items(), key=lambda x: (-x[1], x[0]))
            if len(set(q) & toks[doc]) >= msm
        ][:10]
        for execution in ("spark", "local"):
            got = search_many(
                spark, d, [(0, text, 10)], min_should_match=msm,
                execution=execution,
            )[0]
            assert [x for x, _ in got] == [x for x, _ in want], msm
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, abs_tol=1e-9)
    # m == n matches operator="and" exactly
    assert search_many(spark, d, [(0, text, 10)], min_should_match=4)[0] == \
        search_many(spark, d, [(0, text, 10)], operator="and")[0]
    # m = 1 routes to plain OR (pruned scorers) with identical results
    assert search_many(spark, d, [(0, text, 10)], min_should_match=1)[0] == \
        search_many(spark, d, [(0, text, 10)])[0]
    # m above the matchable term count: empty
    assert search_many(
        spark, d, [(0, "return qzx_missing", 10)], min_should_match=2
    )[0] == []
    # composes with must_not + predicate
    got = search_many(
        spark, d, [(0, text, 10)], min_should_match=2,
        must_not=["fn"], predicate=[("lang", "==", "python")],
    )[0]
    langs = {
        r["doc_id"]: r["lang"]
        for r in prepared.select("doc_id", "lang").collect()
    }
    want = [
        (doc, s)
        for doc, s in sorted(full.items(), key=lambda x: (-x[1], x[0]))
        if len(set(q) & toks[doc]) >= 2
        and "fn" not in toks[doc]
        and langs[doc] == "python"
    ][:10]
    assert [x for x, _ in got] == [x for x, _ in want]
    with pytest.raises(ValueError, match="min_should_match"):
        search_many(spark, d, [(0, text, 10)], operator="and", min_should_match=2)
    with pytest.raises(ValueError, match="min_should_match"):
        search_many(spark, d, [(0, text, 10)], min_should_match=0)


def test_should_boost_terms(spark, filtered_index):
    """Round 5: ES bool {must, should} — should terms never change the
    match set (gated by must/msm) but add their BM25 contribution to
    surviving docs."""
    from bugzilla_etl_spark.oracle import idf as _oidf
    from bugzilla_etl_spark.oracle import impact as _oimp
    from bugzilla_etl_spark.tokenize import py_tokens

    d, prepared, oracle = filtered_index
    toklists = {
        r["doc_id"]: py_tokens(r["content"])
        for r in prepared.select("doc_id", "content").collect()
    }
    n = len(toklists)
    avgdl = sum(len(t) for t in toklists.values()) / n
    must = ["return", "int"]
    boost = ["fn", "impl"]

    def score(doc, terms):
        ts = toklists[doc]
        dfs = {
            t: sum(1 for x in toklists.values() if t in x) for t in terms
        }
        return sum(
            _oidf(n, dfs[t]) * _oimp(ts.count(t), len(ts), avgdl)
            for t in sorted(set(terms))
            if t in ts
        )

    matched = [d_ for d_, ts in toklists.items() if set(must) <= set(ts)]
    want = sorted(
        ((doc, score(doc, must + boost)) for doc in matched),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    for execution in ("spark", "local"):
        got = search_many(
            spark, d, [(0, " ".join(must), 10)], operator="and",
            should=boost, execution=execution,
        )[0]
        assert [x for x, _ in got] == [x for x, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9)
    # match set identical to the un-boosted AND (only scores move) —
    # fetch UNCUT (a k-cut would select different members after the
    # boost reorders the ranking)
    big = len(toklists)
    plain = search_many(spark, d, [(0, " ".join(must), big)], operator="and")[0]
    boosted = search_many(
        spark, d, [(0, " ".join(must), big)], operator="and", should=boost
    )[0]
    assert {x for x, _ in plain} == {x for x, _ in boosted}
    # should without a gating clause is a usage error
    with pytest.raises(ValueError, match="should"):
        search_many(spark, d, [(0, "return", 5)], should=["fn"])


def test_prefix_search_expansion_and_scoring(spark, filtered_index):
    """Round 5: ES prefix query — dictionary range scan expands the
    prefix into at most max_expansions terms picked by highest df
    (Lucene top-terms rewrite), scored as their should-semantics BM25
    sum (rewrite: scoring_boolean)."""
    from collections import Counter

    from bugzilla_etl_spark.index import prefix_search
    from bugzilla_etl_spark.index.manifest import IndexManifest
    from bugzilla_etl_spark.index.postings import scan_dict, top_terms
    from bugzilla_etl_spark.tokenize import py_tokens

    d, prepared, oracle = filtered_index
    toklists = {
        r["doc_id"]: py_tokens(r["content"])
        for r in prepared.select("doc_id", "content").collect()
    }
    dfs = Counter()
    for ts in toklists.values():
        dfs.update(set(ts))
    m = IndexManifest.load(d)
    for prefix, cap in [("re", 50), ("r", 5), ("uniq_1", 50)]:
        want_terms = [
            t
            for t, _ in sorted(
                ((t, c) for t, c in dfs.items() if t.startswith(prefix)),
                key=lambda x: (-x[1], x[0]),
            )[:cap]
        ]
        got_terms = [
            t for t, _ in top_terms(*scan_dict(m, d, "content", prefix=prefix), cap)
        ]
        assert got_terms == want_terms, prefix
        # scoring == should-semantics over exactly the expanded terms
        got = prefix_search(spark, d, prefix, k=10, max_expansions=cap)
        want = search_many(spark, d, [(0, want_terms, 10)])[0]
        assert got == want, prefix
    # no matching terms: empty
    assert prefix_search(spark, d, "qzx", k=5) == []
    # composes with predicate (filter context)
    langs = {
        r["doc_id"]: r["lang"]
        for r in prepared.select("doc_id", "lang").collect()
    }
    got = prefix_search(
        spark, d, "re", k=20, predicate=[("lang", "==", "go")]
    )
    assert got and all(langs[x] == "go" for x, _ in got)


def test_wildcard_search_expansion_and_scoring(spark, filtered_index):
    """ES wildcard query — the pattern's literal prefix prunes a
    dictionary range scan, survivors regex-verify, winners are the
    max_expansions highest-df terms (top-terms rewrite), scored as
    their should-semantics BM25 sum — exactly prefix/fuzzy's shape."""
    import fnmatch
    from collections import Counter

    from bugzilla_etl_spark.index import wildcard_search
    from bugzilla_etl_spark.index.manifest import IndexManifest
    from bugzilla_etl_spark.index.query import _expand_wildcard
    from bugzilla_etl_spark.tokenize import py_tokens

    d, prepared, oracle = filtered_index
    toklists = {
        r["doc_id"]: py_tokens(r["content"])
        for r in prepared.select("doc_id", "content").collect()
    }
    dfs = Counter()
    for ts in toklists.values():
        dfs.update(set(ts))
    m = IndexManifest.load(d)
    # prefixed, leading-wildcard, ?-only, and mixed patterns
    for pattern, cap in [("re*", 50), ("r?turn", 50), ("*turn", 50),
                         ("u*q_1?", 50), ("re*", 3)]:
        want_terms = [
            t
            for t, _ in sorted(
                (
                    (t, c)
                    for t, c in dfs.items()
                    if fnmatch.fnmatchcase(t, pattern)
                ),
                key=lambda x: (-x[1], x[0]),
            )[:cap]
        ]
        got_terms = _expand_wildcard(m, d, pattern, "content", cap)
        assert got_terms == want_terms, pattern
        got = wildcard_search(spark, d, pattern, k=10, max_expansions=cap)
        want = (
            search_many(spark, d, [(0, want_terms, 10)])[0]
            if want_terms
            else []
        )
        assert got == want, pattern
    assert _expand_wildcard(m, d, "return", "content", 50) == ["return"]
    assert wildcard_search(spark, d, "qzx*", k=5) == []
    # composes with predicate (filter context)
    langs = {
        r["doc_id"]: r["lang"]
        for r in prepared.select("doc_id", "lang").collect()
    }
    got = wildcard_search(
        spark, d, "re*", k=20, predicate=[("lang", "==", "go")]
    )
    assert got and all(langs[x] == "go" for x, _ in got)


def test_explain_search_matches_cost_model(spark, filtered_index, monkeypatch):
    """explain reports exactly what the executor does: analyzed terms +
    dfs, bloom-pruned segments, work items, estimate, and the
    local-vs-spark route — the one a spy on ``_execute_buckets`` sees
    the same request take, under the model's coefficients and with the
    fan-out made cheap enough to win."""
    from bugzilla_etl_spark.index import explain_search
    from bugzilla_etl_spark.index import query as Q

    d, prepared, oracle = filtered_index
    taken = []
    real_execute, real_tasks = Q._execute_buckets, Q.bucket_tasks_df

    def spy_execute(spark_, work, scorer, schema, est, *a, **kw):
        taken.append({"work_items": len(work), "estimated_postings": est,
                      "execution": "local"})
        return real_execute(spark_, work, scorer, schema, est, *a, **kw)

    def spy_tasks(*a, **kw):
        taken[-1]["execution"] = "spark"
        return real_tasks(*a, **kw)

    monkeypatch.setattr(Q, "_execute_buckets", spy_execute)
    monkeypatch.setattr(Q, "bucket_tasks_df", spy_tasks)
    # the host's CPU count must not stand in for the session's parallelism
    monkeypatch.setattr(Q.os, "cpu_count", lambda: spark.sparkContext.defaultParallelism + 7)

    def check(query, **kw):
        ex = explain_search(d, query, **kw)
        # a thread with no active session routes by the same cores
        on_thread = []
        t = threading.Thread(target=lambda: on_thread.append(explain_search(d, query, **kw)))
        t.start()
        t.join()
        assert on_thread == [ex], (query, kw)
        taken.clear()
        Q.search_many(spark, d, [(0, query, 10)], **kw)
        assert len(taken) == 1, taken
        assert {k: ex[k] for k in taken[0]} == taken[0], (query, kw)
        assert (ex["execution"] == "local") == (ex["local_ms"] <= ex["spark_ms"])
        return ex

    routes = set()
    for wave_ms in (Q.WAVE_MS, 0.0):
        monkeypatch.setattr(Q, "WAVE_MS", wave_ms)
        for query, kw in (
            ("uniq_13 return", {}),
            ("uniq_13 return", {"operator": "and"}),
            ("uniq_13 return for", {"min_should_match": 2}),
            ("return int", {"must_not": ["fn"]}),
        ):
            routes.add(check(query, **kw)["execution"])
    assert routes == {"local", "spark"}
    monkeypatch.undo()

    ex = explain_search(d, "uniq_13 return")
    assert ex["analyzed_terms"] == ["return", "uniq_13"]
    assert ex["term_dfs"]["uniq_13"] == 1
    assert ex["scorer_path"] == "should"
    assert ex["estimated_postings"] == sum(ex["term_dfs"].values())
    assert ex["work_items"] == len(ex["candidate_segments"]) * 2  # n_sb=2
    # conjunctive path: estimate is the rarest term
    ex2 = explain_search(d, "uniq_13 return", operator="and")
    assert ex2["scorer_path"] == "conjunctive"
    assert ex2["estimated_postings"] == 1
    # msm path: generator-union estimate
    ex3 = explain_search(d, "uniq_13 return for", min_should_match=2)
    assert ex3["scorer_path"] == "msm(2)"
    dfs = ex3["term_dfs"]
    assert ex3["estimated_postings"] == sum(sorted(dfs.values())[:2])


def test_fuzzy_search_expansion_and_scoring(spark, filtered_index):
    """Round 5: ES match fuzziness — each analyzed term expands into
    its edit-distance neighbors (prefix_length range pruning, per-term
    df-ranked cap), scored as the should-sum over the expansion union.
    Engine levenshtein verified against DuckDB's (300-pair fuzz in the
    commit); here expansion sets check against a corpus-derived
    reference and scoring against raw-term search."""
    from collections import Counter

    from bugzilla_etl_spark.index import fuzzy_search
    from bugzilla_etl_spark.index.manifest import IndexManifest
    from bugzilla_etl_spark.index.query import _expand_fuzzy, _levenshtein
    from bugzilla_etl_spark.tokenize import py_tokens

    d, prepared, oracle = filtered_index
    toklists = {
        r["doc_id"]: py_tokens(r["content"])
        for r in prepared.select("doc_id", "content").collect()
    }
    dfs = Counter()
    for ts in toklists.values():
        dfs.update(set(ts))
    m = IndexManifest.load(d)
    for q, me, pl, cap in [
        ("retur", 1, 1, 50),   # deletion typo of 'return'
        ("vac", 1, 1, 50),     # neighbors of 'var'
        ("fn", 2, 1, 10),      # wide net, capped
    ]:
        want_terms = [
            t
            for t, _ in sorted(
                (
                    (t, c)
                    for t, c in dfs.items()
                    if t[:pl] == q[:pl]
                    and abs(len(t) - len(q)) <= me
                    and _levenshtein(t, q, me) <= me
                ),
                key=lambda x: (-x[1], x[0]),
            )[:cap]
        ]
        got_terms = _expand_fuzzy(m, d, q, "content", me, pl, cap)
        assert got_terms == want_terms, q
        got = fuzzy_search(spark, d, q, k=10, max_edits=me,
                           prefix_length=pl, max_expansions=cap)
        if want_terms:
            want = search_many(spark, d, [(0, sorted(set(want_terms)), 10)])[0]
            assert got == want, q
        else:
            assert got == []
    # the typo actually recovers the intended term's docs
    exp = _expand_fuzzy(m, d, "retur", "content", 1, 1, 50)
    assert "return" in exp
    # no neighbors: empty
    assert fuzzy_search(spark, d, "qqqqqq", k=5) == []


def test_exists_predicate(spark, tmp_path):
    """ES exists query / missing filter: ("attr", "exists", True) keeps
    docs with a value, False keeps null-attr docs — composing with
    search, match_all, and aggregations like any other clause."""
    import pandas as pd
    import pytest

    from bugzilla_etl_spark.index import (
        Bool, build_index, match_all_search, search, terms_agg,
    )
    from bugzilla_etl_spark.index.build import prepare_docs

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
    grp_of = {
        r["doc_id"]: r["grp"]
        for r in prepare_docs(corpus, 2).select("doc_id", "grp").collect()
    }
    has = {d_ for d_, g in grp_of.items() if g is not None}
    lacks = set(grp_of) - has
    got_has = search(spark, d, "alpha", k=100,
                     predicate=[("grp", "exists", True)])
    assert {x for x, _ in got_has} == has
    got_null = search(spark, d, "alpha", k=100,
                      predicate=[("grp", "exists", False)])
    assert {x for x, _ in got_null} == lacks
    # scores are the global-stats scores (filter context): the union
    # partitions the unfiltered result exactly
    unfiltered = dict(search(spark, d, "alpha", k=100))
    for x, s in got_has + got_null:
        assert s == unfiltered[x]
    # match_all + exists, attr-sorted
    page = match_all_search(
        spark, d, predicate=[("grp", "exists", True)],
        sort_by=("grp", "asc"), k=100,
    )
    assert {x for x, _ in page} == has
    # aggregation over the exists subset counts every non-null doc
    agg = terms_agg(
        spark, d, "grp",
        query=Bool(must="alpha", filter=[("grp", "exists", True)]),
        size=100,
    )
    assert sum(n for _, n in agg) == len(has)
    # validation: non-bool value rejected
    with pytest.raises(ValueError, match="exists"):
        search(spark, d, "alpha", k=5, predicate=[("grp", "exists", 1)])


def test_regexp_search_expansion_and_scoring(spark, filtered_index):
    """ES regexp query — anchored full-match over the dictionary,
    leading-literal range-scan pruning (with quantifier back-off:
    'uniq_1?3' must keep prefix 'uniq_', not 'uniq_1'), df-ranked
    top-terms rewrite, should-sum scoring."""
    import re
    from collections import Counter

    from bugzilla_etl_spark.index import regexp_search
    from bugzilla_etl_spark.index.manifest import IndexManifest
    from bugzilla_etl_spark.index.query import _expand_regexp
    from bugzilla_etl_spark.tokenize import py_tokens

    d, prepared, oracle = filtered_index
    toklists = {
        r["doc_id"]: py_tokens(r["content"])
        for r in prepared.select("doc_id", "content").collect()
    }
    dfs = Counter()
    for ts in toklists.values():
        dfs.update(set(ts))
    m = IndexManifest.load(d)
    for pattern, cap in [("re.*", 50), ("r(eturn|ange)", 50),
                         ("uniq_1?3", 50), (".*turn", 50), ("re.*", 3),
                         ("retur.|fn", 50)]:  # top-level | voids prefix
        rx = re.compile(pattern)
        want_terms = [
            t
            for t, _ in sorted(
                ((t, c) for t, c in dfs.items() if rx.fullmatch(t)),
                key=lambda x: (-x[1], x[0]),
            )[:cap]
        ]
        got_terms = _expand_regexp(m, d, pattern, "content", cap)
        assert got_terms == want_terms, pattern
        got = regexp_search(spark, d, pattern, k=10, max_expansions=cap)
        want = (
            search_many(spark, d, [(0, want_terms, 10)])[0]
            if want_terms
            else []
        )
        assert got == want, pattern
    assert regexp_search(spark, d, "qzx.*", k=5) == []
    with pytest.raises(ValueError, match="bad regexp"):
        regexp_search(spark, d, "re[", k=5)
    # composes with predicate (filter context)
    langs = {
        r["doc_id"]: r["lang"]
        for r in prepared.select("doc_id", "lang").collect()
    }
    got = regexp_search(
        spark, d, "re.*", k=20, predicate=[("lang", "==", "go")]
    )
    assert got and all(langs[x] == "go" for x, _ in got)
