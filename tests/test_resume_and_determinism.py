"""Checkpoint/resume + determinism-under-parallelism invariants
(FIXTURES.md 4 & 5; reference watermark retry semantics SURVEY §3.2)."""

from __future__ import annotations

import json

from bugzilla_etl_spark.index import build_index, incremental_update, search_many
from bugzilla_etl_spark.index.checksum import index_checksum
from bugzilla_etl_spark.index.manifest import IndexManifest

CFG = dict(n_shards=4, n_tb=4, n_salts=1, block_size=32)


def test_kill_resume_identical(spark, small_corpus, tmp_path):
    # reference run: single shot
    ref = str(tmp_path / "ref")
    build_index(spark, small_corpus, ref, shard_batches=1, **CFG)
    ref_sum = index_checksum(spark, ref)

    # killed run: 4 shard-batches x 2 phases, die after 3 work units
    idx = str(tmp_path / "killed")
    m = build_index(spark, small_corpus, idx, shard_batches=4, max_batches=3, **CFG)
    assert not m.segments, "segment must not be committed after a partial build"
    ck = IndexManifest.load(idx).checkpoints
    assert sum(1 for k in ck if k.startswith("docs")) == 3

    m2 = build_index(spark, small_corpus, idx, shard_batches=4, **CFG)
    assert [s["id"] for s in m2.segments] == ["seg00000"]
    # lineage recorded per batch (postings/sec metrics)
    lineage = m2.segments[0]["lineage"]
    assert sum(1 for k in lineage if k.startswith("batch")) == 4
    for v in lineage.values():
        assert v["postings"] > 0 and v["postings_per_s"] > 0
    assert index_checksum(spark, idx) == ref_sum


def test_batched_equals_single_pass(spark, small_corpus, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build_index(spark, small_corpus, a, shard_batches=1, **CFG)
    build_index(spark, small_corpus, b, shard_batches=3, **CFG)
    assert index_checksum(spark, a) == index_checksum(spark, b)


def test_determinism_across_parallelism(spark, small_corpus, tmp_path):
    a = str(tmp_path / "p1")
    b = str(tmp_path / "p8")
    build_index(spark, small_corpus.coalesce(1), a, **CFG)
    build_index(spark, small_corpus.repartition(8), b, **CFG)
    assert index_checksum(spark, a) == index_checksum(spark, b)


def test_incremental_matches_full_rebuild(spark, small_corpus, tmp_path):
    """initial(70%) + incremental(30%) answers == full build answers."""
    full = str(tmp_path / "full")
    split = str(tmp_path / "split")
    part1 = small_corpus.limit(140)
    build_index(spark, small_corpus, full, **CFG)
    build_index(spark, part1, split, **CFG)
    incremental_update(spark, small_corpus, split)  # already-indexed rows skipped
    queries = [(1, "return int", 10), (2, "uniq_13", 5), (3, "for def", 10)]
    assert search_many(spark, full, queries) == search_many(spark, split, queries)


def test_manifest_atomic_commit(tmp_path):
    m = IndexManifest(n_shards=2)
    d = str(tmp_path / "idx")
    m.checkpoints["batch0"] = {"postings": 1}
    m.commit(d)
    loaded = IndexManifest.load(d)
    assert loaded.checkpoints["batch0"]["postings"] == 1
    with open(IndexManifest.path(d)) as f:
        json.load(f)  # valid json on disk


def test_publish_pointer_swap_zero_downtime(spark, small_corpus, tmp_path):
    """VERDICT r4 item 8 (the import_bugs.sh:21-23 alias-repoint analog):
    a full rebuild lands in a fresh generation dir; publish_index flips
    the pointer atomically; a reader that resolved BEFORE the flip keeps
    a fully-functional old index (left intact), one resolving after sees
    the new one — no torn state, no downtime."""
    from bugzilla_etl_spark.index import (
        build_index,
        next_build_dir,
        publish_index,
        resolve_index,
        search,
    )
    from bugzilla_etl_spark.index.publish import read_pointer

    root = str(tmp_path / "gens")
    ptr = str(tmp_path / "current.json")
    d1 = next_build_dir(root, ptr)
    assert d1.endswith("gen_00001")
    build_index(spark, small_corpus.limit(80), d1, n_shards=2, n_tb=2)
    assert publish_index(d1, ptr) is None
    assert resolve_index(ptr) == d1
    r1 = search(spark, resolve_index(ptr), "return int", k=5)
    assert r1

    # reader A resolves now (pre-swap) and keeps using the old dir
    reader_a_dir = resolve_index(ptr)
    d2 = next_build_dir(root, ptr)
    assert d2.endswith("gen_00002")
    build_index(spark, small_corpus.limit(160), d2, n_shards=2, n_tb=2)
    prev = publish_index(d2, ptr)
    assert prev == d1
    # reader A: old generation still answers identically
    assert search(spark, reader_a_dir, "return int", k=5) == r1
    # reader B: new generation, larger corpus
    r2 = search(spark, resolve_index(ptr), "return int", k=5)
    assert resolve_index(ptr) == d2 and r2 and r2 != r1
    assert read_pointer(ptr)["generation"] == 2
    assert read_pointer(ptr)["previous"] == d1

    # an uncommitted build dir can never be published
    import pytest as _pytest

    d3 = next_build_dir(root, ptr)
    with _pytest.raises(Exception):
        publish_index(d3, ptr)
    assert resolve_index(ptr) == d2  # pointer untouched by the failure


def test_row_errors_surface_in_manifest_lineage(spark, small_corpus, tmp_path):
    """VERDICT r4 item 9 (bugzilla_to_json.ktr:1158-1168 analog): rows
    the sink rejects (null identity keys / null content) are COUNTED in
    the manifest lineage per batch and EXCLUDED from both the docs
    dimension and the postings — a partially-bad corpus surfaces in the
    committed metadata, not only in executor logs."""
    from pyspark.sql import functions as F

    from bugzilla_etl_spark.index import build_index, incremental_update, search
    from bugzilla_etl_spark.index.build import prepare_docs
    from bugzilla_etl_spark.index.manifest import IndexManifest
    from bugzilla_etl_spark.oracle import build_oracle

    d = str(tmp_path / "idx")
    clean = small_corpus.limit(60)
    bad = (
        small_corpus.limit(70).subtract(clean)
        .withColumn("content", F.lit(None).cast("string"))
    )
    bad2 = (
        small_corpus.limit(80).subtract(small_corpus.limit(70))
        .withColumn("commit", F.lit(None).cast("string"))
    )
    build_index(
        spark, clean.unionByName(bad).unionByName(bad2), d,
        n_shards=2, n_tb=2,
    )
    m = IndexManifest.load(d)
    assert m.n_docs == 60
    assert m.segments[0]["row_errors"] == 20
    # results identical to a clean-only build (bad rows left no postings)
    rows = prepare_docs(clean, 2).select("doc_id", "content").collect()
    oracle = build_oracle((r["doc_id"], r["content"]) for r in rows)
    got = search(spark, d, "return int", k=10)
    want = oracle.search("return int", 10)
    assert [x for x, _ in got] == [x for x, _ in want]

    # incremental: same channel
    inc_clean = small_corpus.limit(100).subtract(small_corpus.limit(80))
    inc_bad = (
        small_corpus.limit(110).subtract(small_corpus.limit(100))
        .withColumn("repo", F.lit(None).cast("string"))
    )
    m2 = incremental_update(spark, inc_clean.unionByName(inc_bad), d)
    assert m2.n_docs == 80
    assert m2.segments[-1]["row_errors"] == 10
