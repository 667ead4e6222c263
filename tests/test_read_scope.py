"""One postings scan per segment per request: the harnesses run a
request's (segment, sb) work items under one ``postings.ReadScope``.

The scope changes how often a segment is opened and scanned, never what
a scorer sees: forced-local answers equal the Spark fan-out's (which
packs the items into per-task scopes) for every scorer family, and
nothing outlives the request, so an index rebuilt at the same path is
read afresh."""

from __future__ import annotations

import shutil

import pyarrow.dataset as pads
import pytest

from bugzilla_etl_spark.corpus import generate_corpus_pdf
from bugzilla_etl_spark.index import (
    Bool,
    bool_search_many,
    build_index,
    incremental_update,
    multi_agg,
    multi_match_search_many,
    nested_search_many,
    phrase_search_many,
    search_many,
)
from bugzilla_etl_spark.index.build import delete_docs, prepare_docs
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.oracle import build_oracle

PRED = [("lang", "==", "python")]


def _corpus(spark, n, start):
    pdf = generate_corpus_pdf(n, start=start)
    pdf["parent"] = [(start + i) // 3 for i in range(n)]
    return spark.createDataFrame(pdf)


class _Spy:
    """Records every pyarrow dataset the engine opens and every
    ``to_table`` on it, by the opened directory's last component."""

    def __init__(self, monkeypatch):
        self.opened: list[str] = []
        self.scans: list[str] = []
        real = pads.dataset
        spy = self

        class Counted:
            def __init__(self, data, part):
                self._data, self._part = data, part

            def __getattr__(self, name):
                return getattr(self._data, name)

            def to_table(self, *a, **k):
                spy.scans.append(self._part)
                return self._data.to_table(*a, **k)

        def dataset(path, *a, **k):
            part = str(path).rstrip("/").rsplit("/", 1)[-1]
            self.opened.append(part)
            return Counted(real(path, *a, **k), part)

        monkeypatch.setattr(pads, "dataset", dataset)


def test_local_query_scans_each_segment_once(spark, tmp_path, monkeypatch):
    """A single-query local search over one segment of 8 sbs opens the
    postings dataset once and scans it once (8 and 8 when every work
    item read its own bucket)."""
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 160, 0), d, n_shards=8, n_tb=2, n_sb=8)
    want = search_many(spark, d, [(0, "return int fn", 10)], execution="spark")
    spy = _Spy(monkeypatch)
    got = search_many(spark, d, [(0, "return int fn", 10)], execution="local")
    assert got == want and got[0]
    assert spy.opened.count("postings") == 1, spy.opened
    assert spy.scans.count("postings") == 1, spy.scans


@pytest.fixture(scope="module")
def two_seg_idx(spark, tmp_path_factory):
    """Two segments (build + append) with positions, a shingle field, a
    ``parent`` attr and tombstones in both segments."""
    d = str(tmp_path_factory.mktemp("scope") / "idx")
    build_index(
        spark, _corpus(spark, 240, 0), d, n_shards=8, n_tb=4, n_sb=4,
        n_salts=2, block_size=16, positions=True, doc_attrs=["parent"],
        extra_fields={"sh": "code_v1_shingle"},
    )
    incremental_update(spark, _corpus(spark, 120, 5000), d)
    m = IndexManifest.load(d)
    assert len(m.segments) == 2
    ids = []
    for seg in m.segment_dirs(d):
        seg_ids = pads.dataset(seg + "/docs").to_table(columns=["doc_id"])
        ids += sorted(seg_ids["doc_id"].to_pylist())[::11]
    delete_docs(spark, d, ids, auto_compact_ratio=None)
    return d


def _both(fn):
    local, fanout = fn("local"), fn("spark")
    assert local == fanout
    return local


def test_local_equals_spark_two_segments(spark, two_seg_idx):
    d = two_seg_idx
    qs = [(0, "return int fn", 10), (1, "struct impl", 5), (2, "fn", 50)]
    for kw in (
        {},
        {"predicate": PRED, "must_not": ["struct"]},
        {"field": "sh"},
        {"operator": "and", "predicate": PRED},
    ):
        got = _both(lambda ex: search_many(spark, d, qs, execution=ex, **kw))
        assert any(got.values()), kw
    assert any(_both(lambda ex: phrase_search_many(
        spark, d, [(0, "return int", 20), (1, "int fn", 20)],
        predicate=PRED, must_not=["struct"], execution=ex,
    )).values())
    assert any(_both(lambda ex: multi_match_search_many(
        spark, d, [(0, "return struct", 10)], ["content", "sh"],
        predicate=PRED, must_not=["impl"], execution=ex,
    )).values())
    assert any(_both(lambda ex: bool_search_many(
        spark, d, [
            (0, Bool(must="fn", should=("struct",), must_not="impl",
                     filter=tuple(PRED)), 10),
            (1, Bool(phrase="return int", filter=tuple(PRED)), 10),
            (2, Bool(multi_match="return struct", mm_fields=("content", "sh"),
                     filter=tuple(PRED)), 10),
        ], execution=ex,
    )).values())
    assert any(_both(lambda ex: nested_search_many(
        spark, d, [(0, "return int", 10)], "parent", score_mode="max",
        predicate=PRED, must_not=["struct"], execution=ex,
    )).values())
    aggs = {
        "t": {"kind": "terms", "attr": "lang", "size": 3},
        "s": {"kind": "stats", "attr": "parent"},
    }
    for q in (None, Bool(must="fn", must_not="struct", filter=tuple(PRED))):
        got = _both(lambda ex: multi_agg(spark, d, aggs, query=q, execution=ex))
        assert got["t"], q


def test_same_path_rebuild_reads_the_new_index(spark, tmp_path):
    """A second corpus built where the first one was answers from its
    own files: no segment read survives its request."""
    d = str(tmp_path / "idx")
    q = [(0, "return int fn", 10)]
    build_index(spark, _corpus(spark, 150, 0), d, n_shards=4, n_tb=2, n_sb=4)
    first = {ex: search_many(spark, d, q, execution=ex) for ex in ("local", "spark")}
    shutil.rmtree(d)
    corpus = _corpus(spark, 150, 7000)
    build_index(spark, corpus, d, n_shards=4, n_tb=2, n_sb=4)
    rows = prepare_docs(corpus, 4).select("doc_id", "content").collect()
    want = build_oracle((r["doc_id"], r["content"]) for r in rows).search(
        "return int fn", 10
    )
    for ex in ("local", "spark"):
        got = search_many(spark, d, q, execution=ex)[0]
        assert got != first[ex][0]
        assert [doc for doc, _ in got] == [doc for doc, _ in want], ex
        assert [s for _, s in got] == pytest.approx([s for _, s in want]), ex
