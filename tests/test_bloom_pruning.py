"""Per-segment bloom sidecars: incremental anti-join elimination and
driver-side dict-lookup / fan-out segment pruning (VERDICT r2 #1, #8).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bugzilla_etl_spark.corpus import generate_corpus_pdf
from bugzilla_etl_spark.index import build_index, incremental_update, search_many
from bugzilla_etl_spark.index.bloom import (
    SegmentBlooms,
    build_bits,
    hash_strings,
    ids_to_u64,
    maybe_contains,
)
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.index.query import _candidate_dict_dirs
from bugzilla_etl_spark.oracle import build_oracle


def test_bloom_roundtrip_and_fpr():
    rng = np.random.default_rng(3)
    keys = ids_to_u64(rng.integers(-(2**62), 2**62, 20_000, dtype=np.int64))
    bits = build_bits(keys)
    assert maybe_contains(bits, keys).all()  # no false negatives, ever
    probe = ids_to_u64(rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64))
    assert maybe_contains(bits, probe).mean() < 0.005
    tb = build_bits(hash_strings([f"t{i}" for i in range(5000)]))
    assert maybe_contains(tb, hash_strings(["t7", "t4999"])).all()
    assert maybe_contains(tb, hash_strings([f"zz{i}" for i in range(5000)])).mean() < 0.005


@pytest.fixture(scope="module")
def many_segment_index(spark, tmp_path_factory):
    """10 segments, each 30 docs; each segment s plants a rare marker
    term seg<m>_marker appearing ONLY in that segment."""
    d = str(tmp_path_factory.mktemp("many_seg") / "idx")
    pdfs = []
    for s in range(10):
        pdf = generate_corpus_pdf(30, start=1000 * s)
        pdf["content"] = pdf["content"] + f" seg{s}_marker"
        pdfs.append(pdf)
    build_index(
        spark, spark.createDataFrame(pdfs[0]), d,
        n_shards=2, n_tb=2,
    )
    for pdf in pdfs[1:]:
        incremental_update(spark, spark.createDataFrame(pdf), d)
    return d, pd.concat(pdfs, ignore_index=True)


def test_lookup_skips_unrelated_segments(spark, many_segment_index):
    d, _ = many_segment_index
    m = IndexManifest.load(d)
    assert len(m.segments) == 10
    # every segment has a sidecar
    for sd in m.segment_dirs(d):
        assert SegmentBlooms.load(sd) is not None
    # a marker term unique to segment 3 prunes the candidate set to ~1
    # (bloom FPs may admit the odd extra segment; never fewer than 1)
    cands = _candidate_dict_dirs(m, d, ["seg3_marker"])
    assert 1 <= len(cands) <= 2, cands
    assert any(sd.endswith(m.segments[3]["id"]) for sd in cands)
    # a common term hits all segments
    assert len(_candidate_dict_dirs(m, d, ["return"])) == 10


def test_pruned_search_stays_exact(spark, many_segment_index):
    d, all_pdf = many_segment_index
    from bugzilla_etl_spark.index.build import prepare_docs

    corpus = spark.createDataFrame(all_pdf)
    rows = prepare_docs(corpus, 2).select("doc_id", "content").collect()
    oracle = build_oracle((r["doc_id"], r["content"]) for r in rows)
    queries = [(1, "seg3_marker", 5), (2, "seg7_marker return", 10), (3, "return int", 10)]
    res = search_many(spark, d, queries)
    for qid, text, k in queries:
        want = oracle.search(text, k)
        got = res[qid]
        assert [x for x, _ in got] == [x for x, _ in want], (qid, got, want)


def test_incremental_novel_batch_skips_docs_scan(
    spark, many_segment_index, tmp_path, monkeypatch
):
    """A batch of genuinely new docs must not read any docs dimension:
    _without_indexed_docs returns the prepared frame unchanged (object
    identity — the zero-scan fast path). The bloom probe runs on the
    driver over the collected ids: it starts no Python stage."""
    d, _ = many_segment_index
    from bugzilla_etl_spark.index.build import _without_indexed_docs, prepare_docs

    m = IndexManifest.load(d)
    novel = spark.createDataFrame(generate_corpus_pdf(20, start=99_000))
    prepared = prepare_docs(novel, m.n_shards)
    frame_cls = type(prepared)
    real = frame_cls.mapInPandas
    calls = []

    def spy(self, *a, **k):
        calls.append(a)
        return real(self, *a, **k)

    monkeypatch.setattr(frame_cls, "mapInPandas", spy)
    out = _without_indexed_docs(spark, m, d, prepared, novel)
    assert out is prepared  # fast path: no join, no segment scan
    assert calls == []  # no Python probe stage


def test_incremental_replay_still_noop(spark, tmp_path):
    """At-least-once replay: re-submitting an already-indexed batch via
    the bloom path adds no segment and changes no stats."""
    d = str(tmp_path / "idx")
    pdf = generate_corpus_pdf(80)
    corpus = spark.createDataFrame(pdf)
    build_index(spark, corpus, d, n_shards=2, n_tb=2)
    m0 = IndexManifest.load(d)
    m1 = incremental_update(spark, corpus, d)  # full replay
    assert len(m1.segments) == len(m0.segments)
    assert (m1.n_docs, m1.sum_doc_len) == (m0.n_docs, m0.sum_doc_len)
    # partial overlap: only the 20 new docs land in the new segment
    mixed = spark.createDataFrame(
        pd.concat([pdf.iloc[:30], generate_corpus_pdf(20, start=500)], ignore_index=True)
    )
    m2 = incremental_update(spark, mixed, d)
    assert m2.segments[-1]["n_docs"] == 20
    assert m2.n_docs == m0.n_docs + 20
