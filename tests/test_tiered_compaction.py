"""Partial (size-tiered) segment compaction: merge only a subset,
leave mature segments untouched, keep tombstone semantics exact."""

from __future__ import annotations

import os

import pytest

from bugzilla_etl_spark.corpus import generate_corpus_pdf
from bugzilla_etl_spark.index import (
    build_index,
    compact_tiered,
    incremental_update,
    merge_segments,
    search_many,
)
from bugzilla_etl_spark.index.build import delete_docs, prepare_docs
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.oracle import build_oracle

QUERIES = [
    (1, "return int", 10),
    (2, "uniq_13 return", 10),
    (3, "for", 10),
]


def _oracle_and_check(spark, d, pdfs, deleted=()):
    import pandas as pd

    combined = pd.concat(pdfs, ignore_index=True)
    corpus = spark.createDataFrame(combined)
    rows = prepare_docs(corpus, 2).select("doc_id", "content").collect()
    dels = set(deleted)
    oracle = build_oracle(
        (r["doc_id"], r["content"]) for r in rows if r["doc_id"] not in dels
    )
    res = search_many(spark, d, QUERIES)
    for qid, text, k in QUERIES:
        want = oracle.search(text, k)
        got = res[qid]
        assert [x for x, _ in got] == [x for x, _ in want], (qid, got, want)


@pytest.fixture()
def five_segment_index(spark, tmp_path):
    d = str(tmp_path / "idx")
    pdfs = [generate_corpus_pdf(60, start=100 * i) for i in range(5)]
    build_index(spark, spark.createDataFrame(pdfs[0]), d, n_shards=2, n_tb=2)
    for pdf in pdfs[1:]:
        incremental_update(spark, spark.createDataFrame(pdf), d)
    return d, pdfs


def test_partial_merge_rewrites_only_subset(spark, five_segment_index):
    d, pdfs = five_segment_index
    m0 = IndexManifest.load(d)
    ids = [s["id"] for s in m0.segments]
    m = merge_segments(spark, d, segment_ids=ids[:3])
    assert len(m.segments) == 3  # 2 untouched + 1 merged
    live_ids = {s["id"] for s in m.segments}
    assert set(ids[3:]) <= live_ids
    assert not (set(ids[:3]) & live_ids)
    merged = [s for s in m.segments if s["id"] not in ids][0]
    assert merged["n_docs"] == 180
    # untouched segment dirs still on disk; merged sources RETIRED (r5
    # deferred deletion: kept for in-flight readers until the grace
    # period passes), then physically gone after gc
    from bugzilla_etl_spark.index import gc_retired

    for sid in ids[3:]:
        assert os.path.isdir(os.path.join(d, "segments", sid))
    assert {r["id"] for r in m.retired} == set(ids[:3])
    for sid in ids[:3]:
        assert os.path.isdir(os.path.join(d, "segments", sid))
    assert sorted(gc_retired(d, grace_s=0)) == sorted(ids[:3])
    for sid in ids[:3]:
        assert not os.path.isdir(os.path.join(d, "segments", sid))
    _oracle_and_check(spark, d, pdfs)


def test_partial_merge_drops_only_subset_tombstones(spark, five_segment_index):
    d, pdfs = five_segment_index
    m0 = IndexManifest.load(d)
    ids = [s["id"] for s in m0.segments]
    # delete one doc living in segment 0 and one in segment 4
    doc0 = int(prepare_docs(spark.createDataFrame(pdfs[0]), 2).select("doc_id").head(1)[0][0])
    doc4 = int(prepare_docs(spark.createDataFrame(pdfs[4]), 2).select("doc_id").head(1)[0][0])
    delete_docs(spark, d, [doc0, doc4], auto_compact_ratio=None)
    m = merge_segments(spark, d, segment_ids=ids[:2])
    # doc0's segment was merged -> physically gone, tombstone dropped;
    # doc4's segment untouched -> still a tombstone
    assert m.tombstones == [doc4]
    merged = [s for s in m.segments if s["id"] not in ids][0]
    assert merged["n_docs"] == 119
    # while a tombstone is outstanding, deleted docs never surface
    # (df still counts them until their tier compacts — the Lucene
    # deleted-doc docFreq semantics, resolved at merge)
    res = search_many(spark, d, QUERIES)
    hit_ids = {x for r in res.values() for x, _ in r}
    assert doc0 not in hit_ids and doc4 not in hit_ids
    # compacting the remaining tier restores exact oracle parity
    merge_segments(spark, d)
    _oracle_and_check(spark, d, pdfs, deleted=[doc0, doc4])


def test_compact_tiered_policy(spark, five_segment_index):
    d, pdfs = five_segment_index
    m = compact_tiered(spark, d, max_segments=2, fan_in=3)
    assert len(m.segments) <= 2
    _oracle_and_check(spark, d, pdfs)
    # idempotent below the threshold
    m2 = compact_tiered(spark, d, max_segments=2, fan_in=3)
    assert [s["id"] for s in m2.segments] == [s["id"] for s in m.segments]


def test_subset_equal_to_all_is_full_merge(spark, five_segment_index):
    d, _ = five_segment_index
    m0 = IndexManifest.load(d)
    m = merge_segments(spark, d, segment_ids=[s["id"] for s in m0.segments])
    assert len(m.segments) == 1
    assert m.segments[0]["n_docs"] == 300


def test_unknown_segment_id_raises(spark, five_segment_index):
    d, _ = five_segment_index
    with pytest.raises(ValueError):
        merge_segments(spark, d, segment_ids=["seg99999"])


def test_delete_autocompact_targets_only_hit_segments(spark, five_segment_index):
    """Deleting enough docs of ONE segment to trip auto-compaction must
    merge only that segment (bloom-targeted), leaving the other four
    untouched on disk, with tombstones fully drained."""
    d, pdfs = five_segment_index
    m0 = IndexManifest.load(d)
    ids = [s["id"] for s in m0.segments]
    seg2_docs = [
        int(r["doc_id"])
        for r in prepare_docs(spark.createDataFrame(pdfs[2]), 2)
        .select("doc_id")
        .collect()
    ]
    # 61 tombstones > 0.2 * 300 -> trips the ratio (use all of seg 2 + 1 fake)
    m = delete_docs(spark, d, seg2_docs, auto_compact_ratio=0.2)
    assert m.tombstones == []
    live_ids = {s["id"] for s in m.segments}
    # the four untouched segments survive verbatim; seg 2 is gone
    assert set(ids) - {ids[2]} <= live_ids
    assert ids[2] not in live_ids
    # seg 2 was ALL tombstoned -> dropped without a replacement segment
    assert len(m.segments) == 4
    assert m.n_docs == 240
    _oracle_and_check(spark, d, pdfs, deleted=seg2_docs)


def test_merge_retires_segments_with_grace(spark, small_corpus, tmp_path):
    """Round 5: a merge/compaction RETIRES replaced segment dirs instead
    of deleting them (Lucene's deferred segment deletion): a reader that
    loaded the pre-merge manifest keeps fully-readable files; gc_retired
    prunes only past the grace period; live segments are never GC'd."""
    import os

    import pyarrow.dataset as ds

    from bugzilla_etl_spark.index import (
        build_index,
        gc_retired,
        incremental_update,
        merge_segments,
        search,
    )
    from bugzilla_etl_spark.index.manifest import IndexManifest

    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(60), d, n_shards=2, n_tb=2)
    incremental_update(
        spark, small_corpus.limit(120).subtract(small_corpus.limit(60)), d
    )
    m0 = IndexManifest.load(d)  # the in-flight reader's snapshot
    old_dirs = m0.segment_dirs(d)
    assert len(old_dirs) == 2
    r_before = search(spark, d, "return int", k=5)

    merge_segments(spark, d)
    m1 = IndexManifest.load(d)
    assert len(m1.segments) == 1
    assert {r["id"] for r in m1.retired} == {
        os.path.basename(p) for p in old_dirs
    }
    # the pre-merge reader's files are intact and readable
    for p in old_dirs:
        assert os.path.isdir(p)
        assert ds.dataset(
            os.path.join(p, "postings"), format="parquet", partitioning="hive"
        ).count_rows() > 0
    # post-merge queries identical
    assert search(spark, d, "return int", k=5) == r_before

    # inside the grace window nothing is removed
    assert gc_retired(d, grace_s=3600) == []
    assert all(os.path.isdir(p) for p in old_dirs)
    # past the grace window the retired dirs go, the live one stays
    gone = gc_retired(d, grace_s=0)
    assert sorted(gone) == sorted(os.path.basename(p) for p in old_dirs)
    assert not any(os.path.isdir(p) for p in old_dirs)
    assert IndexManifest.load(d).retired == []
    assert search(spark, d, "return int", k=5) == r_before
    # idempotent
    assert gc_retired(d, grace_s=0) == []
