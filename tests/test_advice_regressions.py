"""Regressions for the round-1 ADVICE findings: shard-bucket overlap,
segment-id collision across merge/incremental cycles, avgdl-drift bound
soundness, and delete idempotency.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from bugzilla_etl_spark.corpus import generate_corpus_pdf
from bugzilla_etl_spark.index import (
    build_index,
    incremental_update,
    merge_segments,
    search_many,
)
from bugzilla_etl_spark.index.build import delete_docs, prepare_docs
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.oracle import build_oracle

QUERIES = [
    (1, "return int", 10),          # two hot terms
    (2, "uniq_13 return", 10),      # selective + hot (MaxScore prune path)
    (3, "for", 10),                 # single hot (impact-ordered path)
    (4, "r5_sym1 fn impl", 10),
    (5, "uniq_23 uniq_33", 3),
]


def _oracle_for(spark, corpus):
    rows = prepare_docs(corpus, 4).select("doc_id", "content").collect()
    return build_oracle((r["doc_id"], r["content"]) for r in rows)


def _assert_matches(res, oracle):
    for qid, text, k in QUERIES:
        want = oracle.search(text, k)
        got = res[qid]
        assert [d for d, _ in got] == [d for d, _ in want], (qid, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-6)


def test_multiple_shards_per_bucket(spark, small_corpus, tmp_path):
    """n_sb < n_shards: one shard-bucket holds 4 shards, whose posting
    blocks interleave in doc range. Round-1 bug: lazy lists pooled
    blocks by (term, salt) only, violating the sorted non-overlap
    invariant and silently zeroing contributions."""
    d = str(tmp_path / "idx")
    build_index(
        spark, small_corpus, d,
        n_shards=8, n_tb=4, n_salts=2, n_sb=2, block_size=16,
        tokenizer="builtin",
    )
    oracle = _oracle_for(spark, small_corpus)
    _assert_matches(search_many(spark, d, QUERIES), oracle)


def test_merge_incremental_merge_ids_never_collide(spark, small_corpus, tmp_path):
    """merge -> incremental -> merge: the second merge must get a fresh
    segment id (round-1 bug: len(segments)-based ids collided with the
    live merged segment, corrupting the index)."""
    d = str(tmp_path / "idx")
    part1 = small_corpus.limit(120)
    build_index(spark, part1, d, n_shards=2, n_tb=2, block_size=32, tokenizer="builtin")
    incremental_update(spark, small_corpus.limit(160), d)
    m = merge_segments(spark, d)
    first_merged = m.segments[0]["id"]
    incremental_update(spark, small_corpus, d)
    m = merge_segments(spark, d)
    second_merged = m.segments[0]["id"]
    assert second_merged != first_merged
    # index still answers correctly after the double merge cycle
    oracle = _oracle_for(spark, small_corpus)
    _assert_matches(search_many(spark, d, QUERIES), oracle)


def test_avgdl_drift_keeps_pruning_sound(spark, small_corpus, tmp_path):
    """Incremental docs much longer than the initial segment raise the
    global avgdl; stored block-max bounds (baked with build avgdl)
    underestimate true impacts. Round-1 bug: MaxScore pruning could
    silently drop true top-k docs. The per-segment bound rescale must
    keep every path exact."""
    d = str(tmp_path / "idx")
    # initial: short docs only
    short_pdf = generate_corpus_pdf(150)
    short_pdf["content"] = short_pdf["content"].str.split().str[:60].str.join(" ")
    short = spark.createDataFrame(short_pdf)
    build_index(spark, short, d, n_shards=4, n_tb=4, block_size=16, tokenizer="builtin")
    # incremental: long docs (distinct identity via different commit)
    long_pdf = generate_corpus_pdf(150, start=150)
    long_pdf["content"] = (long_pdf["content"] + " ") * 3
    longc = spark.createDataFrame(long_pdf)
    m = incremental_update(spark, longc, d)
    assert m.avgdl > m.segments[0]["avgdl"] * 1.5, "fixture must raise avgdl"
    combined = spark.createDataFrame(pd.concat([short_pdf, long_pdf]))
    oracle = _oracle_for(spark, combined)
    _assert_matches(search_many(spark, d, QUERIES), oracle)


def test_delete_docs_idempotent(spark, small_corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(60), d, n_shards=2, n_tb=2, tokenizer="builtin")
    some = [
        r["doc_id"]
        for r in prepare_docs(small_corpus.limit(60), 2).select("doc_id").head(5)
    ]
    m1 = delete_docs(spark, d, some)
    n, s = m1.n_docs, m1.sum_doc_len
    m2 = delete_docs(spark, d, some)  # re-delete: must be a no-op
    assert (m2.n_docs, m2.sum_doc_len) == (n, s)
    m3 = IndexManifest.load(d)
    assert (m3.n_docs, m3.sum_doc_len) == (n, s)


def test_delete_nonexistent_ids_never_tombstoned(spark, small_corpus, tmp_path):
    """Round-2 ADVICE: deleting ids that are NOT in the index must be a
    complete no-op — previously they were appended to m.tombstones
    forever, inflating every query's tombstone filter and prematurely
    triggering auto-compaction."""
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(40), d, n_shards=2, n_tb=2, tokenizer="builtin")
    m0 = IndexManifest.load(d)
    m = delete_docs(spark, d, [111, 222, 333])  # none exist
    assert m.tombstones == []
    assert (m.n_docs, m.sum_doc_len) == (m0.n_docs, m0.sum_doc_len)
    # mixed: only the REAL id becomes a tombstone
    real = prepare_docs(small_corpus.limit(40), 2).select("doc_id").head(1)[0]["doc_id"]
    m = delete_docs(spark, d, [real, 999_999], auto_compact_ratio=None)
    assert m.tombstones == [real]
    assert m.n_docs == m0.n_docs - 1


def test_legacy_segment_without_avgdl_stays_exact(spark, tmp_path):
    """Round-2 ADVICE: a segment whose manifest entry predates the
    stored build-avgdl must DISABLE pruning (infinite bound scale), not
    assume scale 1.0 — otherwise the avgdl-drift unsoundness silently
    resurfaces for pre-upgrade segments after incremental updates raise
    the global avgdl. Same drift fixture as the round-1 test, with the
    avgdl key stripped from the initial segment."""
    d = str(tmp_path / "idx")
    short_pdf = generate_corpus_pdf(150)
    short_pdf["content"] = short_pdf["content"].str.split().str[:60].str.join(" ")
    build_index(
        spark, spark.createDataFrame(short_pdf), d,
        n_shards=4, n_tb=4, block_size=16, tokenizer="builtin",
    )
    m = IndexManifest.load(d)
    del m.segments[0]["avgdl"]  # simulate a pre-upgrade manifest
    m.commit(d)
    long_pdf = generate_corpus_pdf(150, start=150)
    long_pdf["content"] = (long_pdf["content"] + " ") * 3
    incremental_update(spark, spark.createDataFrame(long_pdf), d)
    combined = spark.createDataFrame(pd.concat([short_pdf, long_pdf]))
    oracle = _oracle_for(spark, combined)
    _assert_matches(search_many(spark, d, QUERIES), oracle)


def test_delete_auto_compacts_past_threshold(spark, small_corpus, tmp_path):
    """Tombstones are bounded: deleting past auto_compact_ratio triggers
    an immediate merge that empties the tombstone list and drops the
    deleted docs physically."""
    from bugzilla_etl_spark.index import search

    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(80), d, n_shards=2, n_tb=2, tokenizer="builtin")
    ids = [
        r["doc_id"]
        for r in prepare_docs(small_corpus.limit(80), 2).select("doc_id").collect()
    ]
    m = delete_docs(spark, d, ids[:5], auto_compact_ratio=0.2)
    assert m.tombstones and len(m.segments) == 1  # below threshold: logical only
    m = delete_docs(spark, d, ids[5:25], auto_compact_ratio=0.2)
    assert m.tombstones == []                     # compacted away
    assert m.n_docs == 55
    # deleted docs are gone physically: a rare term unique to doc 3 misses
    # (doc ids 0..79 -> uniq_i present for i%10==3; ids list is ordered)
    assert all(did not in ids[:25] for did, _ in search(spark, d, "uniq_13", k=5))


def test_delete_decrements_owning_segment_live_count(spark, small_corpus, tmp_path):
    """Round-3 ADVICE: per-segment n_docs must reflect tombstones, or
    compact_tiered ranks tiers by pre-delete size and delete-heavy
    segments never look small enough to compact."""
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(60), d, n_shards=2, n_tb=2, tokenizer="builtin")
    inc = small_corpus.limit(100).subtract(small_corpus.limit(60))
    incremental_update(spark, inc, d)
    m = IndexManifest.load(d)
    seg2 = m.segments[1]["id"]
    n2_before = m.segments[1]["n_docs"]
    inc_ids = [r["doc_id"] for r in prepare_docs(inc, 2).select("doc_id").head(7)]
    m = delete_docs(spark, d, inc_ids, auto_compact_ratio=None)
    by_id = {s["id"]: s["n_docs"] for s in m.segments}
    assert by_id[seg2] == n2_before - 7
    assert m.segments[0]["n_docs"] == 60  # untouched segment unchanged


def test_terms_cache_evicts_stale_mtimes(tmp_path):
    """Round-3 ADVICE: rewriting a segment's bloom sidecar must evict
    the old (path, mtime) cache entry, not leak it for the driver's
    lifetime."""
    import os

    import numpy as np

    from bugzilla_etl_spark.index.bloom import (
        _TERMS_CACHE,
        SegmentBlooms,
        build_bits,
        load_terms_bloom,
    )

    seg = str(tmp_path / "seg")
    os.makedirs(seg)
    path = os.path.join(seg, SegmentBlooms.FILE)
    for i in range(4):
        bits = build_bits(np.array([i], dtype=np.uint64), 512)
        SegmentBlooms({}, bits).save(seg)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
        got = load_terms_bloom(seg)
        assert np.array_equal(got, bits)
    assert sum(1 for k in _TERMS_CACHE if k[0] == path) == 1


def test_legacy_segment_without_field_column(spark, small_corpus, tmp_path):
    """Round-3 ADVICE: segments written before multi-field indexing have
    no `field` column in postings/dict (and no field-qualified bloom).
    They must stay queryable (their rows ARE the 'content' field) by
    every scorer family — all read through one postings reader — and
    mergeable with current-format segments."""
    import glob
    import os

    import pyarrow.parquet as pq

    from bugzilla_etl_spark.index import (
        Bool,
        bool_search,
        multi_match_search,
        phrase_search,
        search,
    )
    from bugzilla_etl_spark.tokenize import py_tokens

    d = str(tmp_path / "idx")
    part1 = small_corpus.limit(120)
    build_index(
        spark, part1, d, n_shards=4, n_tb=4, block_size=16,
        tokenizer="builtin", positions=True,
    )
    m = IndexManifest.load(d)
    seg_dir = os.path.join(d, "segments", m.segments[0]["id"])
    # strip the post-upgrade artifacts: field column, field_avgdl, sidecar
    for f in glob.glob(os.path.join(seg_dir, "postings", "**", "*.parquet"), recursive=True) + glob.glob(os.path.join(seg_dir, "dict", "**", "*.parquet"), recursive=True):
        t = pq.read_table(f)
        if "field" in t.column_names:
            # also strip the Spark row-metadata footer entry, which
            # still lists the dropped column and which Spark trusts
            # over the physical schema
            pq.write_table(t.drop_columns(["field"]).replace_schema_metadata(None), f)
        crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
    os.remove(os.path.join(seg_dir, "bloom.npz"))
    m.segments[0].pop("field_avgdl", None)
    m.commit(d)

    oracle = _oracle_for(spark, part1)
    _assert_matches(search_many(spark, d, QUERIES), oracle)

    toks = {
        r["doc_id"]: py_tokens(r["content"])
        for r in prepare_docs(part1, 4).select("doc_id", "content").collect()
    }

    def oracle_where(text, keep, k=10):
        # the oracle's ranking restricted to the docs the gate admits
        # (gates never change a surviving doc's score)
        return oracle.search(
            text, k, allowed={x for x, ts in toks.items() if keep(ts)}
        )

    seq = next(ts for ts in toks.values() if len(ts) >= 3)[:2]
    phrase = " ".join(seq)
    for got, want in [
        (
            phrase_search(spark, d, phrase, k=10),
            oracle_where(phrase, lambda ts: any(
                ts[i:i + 2] == seq for i in range(len(ts) - 1)
            )),
        ),
        (
            search(spark, d, "return int fn", k=10, operator="and"),
            oracle_where("return int fn", lambda ts: {"return", "int", "fn"} <= set(ts)),
        ),
        (
            multi_match_search(spark, d, "return int", ["content"], k=10),
            oracle.search("return int", 10),
        ),
        (
            bool_search(
                spark, d,
                Bool(must=["return", "for"], must_not=["fn"],
                     multi_match=["int"], mm_fields=["content"]),
                k=10,
            ),
            oracle_where("return for int", lambda ts: {"return", "for", "int"} <= set(ts)
                         and "fn" not in ts),
        ),
    ]:
        assert want, "fixture must make every legacy query non-vacuous"
        assert [x for x, _ in got] == [x for x, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-6)
    # legacy + current segments merge cleanly and stay exact
    inc = small_corpus.limit(160).subtract(part1)
    incremental_update(spark, inc, d)
    merge_segments(spark, d)
    oracle_all = _oracle_for(spark, small_corpus.limit(160))
    _assert_matches(search_many(spark, d, QUERIES), oracle_all)


def test_delete_against_empty_index_is_noop(spark, small_corpus, tmp_path):
    """Round-4 ADVICE (medium): after every live doc is compacted away
    (merge_segments of an all-tombstoned index leaves m.segments == []),
    a redelivered delete — e.g. upsert_versions re-running after a crash
    between delete_docs and incremental_update — must be a no-op, not an
    IndexError, or the at-least-once upsert contract breaks."""
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(20), d, n_shards=2, n_tb=2, tokenizer="builtin")
    ids = [
        r["doc_id"]
        for r in prepare_docs(small_corpus.limit(20), 2).select("doc_id").collect()
    ]
    # delete everything; the removed n_docs>0 guard compacts to empty
    m = delete_docs(spark, d, ids, auto_compact_ratio=0.2)
    assert m.n_docs == 0 and m.segments == []
    # redelivery: same batch delete against the emptied index
    m2 = delete_docs(spark, d, ids, auto_compact_ratio=0.2)
    assert m2.n_docs == 0 and m2.segments == [] and m2.tombstones == []
    # and the re-append half of the upsert still works afterwards
    m3 = incremental_update(spark, small_corpus.limit(20), d)
    assert m3.n_docs == 20


def test_manifest_commit_serializes_against_writer_lock(tmp_path):
    """Round-5 ADVICE (medium): gc_retired's load→commit holds the
    writer_lock and IndexManifest.commit takes the same lock, so a
    writer commit issued while gc is inside its critical section blocks
    until gc finishes and then LANDS (instead of being clobbered by
    gc's stale manifest)."""
    import threading
    import time as _time

    from bugzilla_etl_spark.index.manifest import writer_lock

    d = str(tmp_path / "idx")
    m = IndexManifest()
    m.commit(d)

    events = []

    def writer():
        events.append("writer-start")
        m2 = IndexManifest.load(d)
        m2.seg_counter = 99
        m2.commit(d)  # must block while the gc-side lock is held
        events.append("writer-committed")

    with writer_lock(d):  # gc's critical section
        t = threading.Thread(target=writer)
        t.start()
        _time.sleep(0.3)
        assert "writer-committed" not in events  # blocked on the lock
        # gc commits its own (stale-free) state inside the lock
        mg = IndexManifest.load(d)
        mg.retired = []
        mg.commit(d)
        events.append("gc-committed")
    t.join(timeout=10)
    assert events[-1] == "writer-committed"
    assert IndexManifest.load(d).seg_counter == 99  # writer's commit won


def test_connected_components_raises_on_max_iter_exhaustion(spark):
    """Round-5 ADVICE: a transitive chain deeper than max_iter must
    raise, not silently return split clusters."""
    from bugzilla_etl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "da long, db long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(chain, max_iter=3)
    # with enough rounds the same graph converges to one component
    out = connected_components(chain, max_iter=20).toPandas()
    assert set(out["component"]) == {0}


def test_msm1_with_should_boosts_instead_of_raising(spark, small_corpus, tmp_path):
    """Round-5 ADVICE: bool {min_should_match: 1, should: [...]} is a
    valid ES shape — msm=1 is an explicitly-passed gate, so should
    terms must boost scores rather than trip the should-needs-gate
    validation."""
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus, d, n_shards=2, n_tb=2, tokenizer="builtin")
    base_all = dict(
        search_many(spark, d, [(0, "uniq_13 return", 300)],
                    min_should_match=1)[0]
    )
    boosted = search_many(spark, d, [(0, "uniq_13 return", 10)],
                          min_should_match=1, should=["for"])[0]
    assert base_all and boosted
    # matching is UNCHANGED (every boosted doc matched the base gate);
    # scores only ever gain, and the hot boost term lifts some strictly
    gained = 0
    for doc, s in boosted:
        assert doc in base_all
        assert s >= base_all[doc] - 1e-12
        gained += s > base_all[doc] + 1e-9
    assert gained > 0


def test_cache_tf_same_frame_twice_stays_persisted():
    """Round-5 ADVICE: _cache_tf called twice with the SAME DataFrame
    must not unpersist the frame it just cached."""
    from bugzilla_etl_spark.operators.fulltext import _TF_CACHE, _cache_tf
    from bugzilla_etl_spark.session import get_spark

    spark = get_spark()
    df = spark.range(10).toDF("x")
    try:
        _cache_tf(df)
        _cache_tf(df)
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
    finally:
        _TF_CACHE.pop(id(spark), None)
        df.unpersist()


def test_cache_tf_same_plan_new_object_stays_cached():
    """Round-6 root cause of the r5 twin-bench regression: Spark's
    CacheManager keys cached data by LOGICAL PLAN, so re-caching a NEW
    DataFrame object with the same plan (what repeated bench trials of
    one twin produce) must not end uncached. The broken order
    (persist new, then unpersist prev) dropped the entry the persist
    had just registered."""
    from bugzilla_etl_spark.operators.fulltext import _TF_CACHE, _cache_tf
    from bugzilla_etl_spark.session import get_spark

    spark = get_spark()
    df1 = spark.range(100).selectExpr("id * 2 AS x")
    df2 = spark.range(100).selectExpr("id * 2 AS x")  # same plan, new object
    try:
        _cache_tf(df1)
        df1.count()
        _cache_tf(df2)
        assert df2.storageLevel.useMemory or df2.storageLevel.useDisk
    finally:
        _TF_CACHE.pop(id(spark), None)
        df1.unpersist()
        df2.unpersist()
