"""Lifecycle soak (VERDICT r3 #7): ~30 watermark-loop increments with
tiered compaction, interleaved deletes (tripping bloom-targeted
auto-compaction), then a full merge — proving the manifest / tombstone /
bloom / avgdl-drift invariants hold over LONG maintenance histories,
not just single transitions. Final state must be checksum-identical to
a from-scratch build of the surviving docs.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.corpus import generate_corpus
from bugzilla_etl_spark.index import build_index, merge_segments, search_many
from bugzilla_etl_spark.index.build import delete_docs, prepare_docs
from bugzilla_etl_spark.index.checksum import index_checksum
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.plans.jobs import read_watermark, run_incremental_update

QUERIES = [
    (1, "return int", 10),
    (2, "uniq_13 return", 10),
    (3, "for", 10),
]

N_BATCHES = 30
BATCH = 30


@pytest.mark.slow
def test_lifecycle_soak(spark, tmp_path):
    d = str(tmp_path / "idx")
    total = N_BATCHES * BATCH
    # one source relation with updated_ts = batch number: each loop
    # iteration is a watermark window, exactly the reference's cadence
    source = generate_corpus(spark, total, partitions=8).withColumn(
        "updated_ts",
        (F.pmod(F.xxhash64("path", "commit"), F.lit(N_BATCHES)) + 1).cast("long"),
    )
    source.persist().count()

    # doc metadata for invariant tracking + oracles
    prepared = prepare_docs(source.drop("updated_ts"), 2)
    meta = {
        int(r["doc_id"]): (int(r["doc_len"]), r["content"])
        for r in prepared.select("doc_id", "doc_len", "content").collect()
    }
    batch_ids = {
        int(r["updated_ts"]): set()
        for r in source.select("updated_ts").distinct().collect()
    }
    for r in (
        prepare_docs(source, 2).select("doc_id", "updated_ts").collect()
    ):
        batch_ids[int(r["updated_ts"])].add(int(r["doc_id"]))

    build_index(
        spark,
        source.filter(F.col("updated_ts") <= 1).drop("updated_ts"),
        d,
        n_shards=2, n_tb=2, n_salts=2, n_sb=2, block_size=16,
        positions=True,
    )
    from bugzilla_etl_spark.plans.jobs import commit_watermark

    commit_watermark(d, 1)
    alive = set(batch_ids[1])
    deleted: set[int] = set()

    def check_invariants(stage: str) -> None:
        m = IndexManifest.load(d)
        assert m.n_docs == len(alive), stage
        assert m.sum_doc_len == sum(meta[i][0] for i in alive), stage
        # per-segment n_docs are LIVE counts (tombstones decremented at
        # delete time — the round-4 compact_tiered ranking fix)
        assert sum(s["n_docs"] for s in m.segments) == len(alive), stage
        assert set(m.tombstones).isdisjoint(alive) or not m.tombstones, stage
        # r5 deferred deletion: retired ids never overlap live segments,
        # and gc with zero grace leaves a fully-consistent index
        live_ids = {seg["id"] for seg in m.segments}
        assert not live_ids & {r["id"] for r in m.retired}, stage

    def check_queries(stage: str) -> None:
        """Engine-semantics oracle: N/avgdl over LIVE docs (deletes
        adjust manifest stats), df over PHYSICAL postings (Lucene
        deleted-doc docFreq — tombstoned docs count until their tier
        compacts), results restricted to live docs."""
        from collections import Counter

        from bugzilla_etl_spark.oracle import idf, impact
        from bugzilla_etl_spark.tokenize import py_analyze

        m = IndexManifest.load(d)
        physical = alive | set(m.tombstones)
        tfs = {i: Counter(py_analyze(meta[i][1])) for i in physical}
        n = len(alive)
        avgdl = sum(meta[i][0] for i in alive) / n
        res = search_many(spark, d, QUERIES)
        for qid, text, k in QUERIES:
            terms = sorted(set(py_analyze(text)))
            scores: dict[int, float] = {}
            for t in terms:
                df = sum(1 for i in physical if tfs[i][t] > 0)
                w = idf(n, df)
                for i in alive:
                    tf = tfs[i][t]
                    if tf:
                        scores[i] = scores.get(i, 0.0) + w * impact(
                            tf, meta[i][0], avgdl
                        )
            want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            got = res[qid]
            assert [x for x, _ in got] == [x for x, _ in want], (stage, text)
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, abs_tol=1e-9), (stage, text)

        # r5 surfaces under the same engine-stats semantics, mid-churn:
        def bm25_sum(i, terms):
            out = 0.0
            for t in terms:
                tf = tfs[i][t]
                if tf:
                    df = sum(1 for j in physical if tfs[j][t] > 0)
                    out += idf(n, df) * impact(tf, meta[i][0], avgdl)
            return out

        qterms = ["return", "int"]
        # operator="and": docs containing BOTH terms, same scores
        want = sorted(
            (
                (i, bm25_sum(i, qterms))
                for i in alive
                if all(tfs[i][t] for t in qterms)
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )[:10]
        got = search_many(spark, d, [(0, "return int", 10)], operator="and")[0]
        assert [x for x, _ in got] == [x for x, _ in want], stage
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9), stage
        # must_not: live docs containing the negative term disappear,
        # scores untouched
        got = search_many(
            spark, d, [(0, "return int", 10)], must_not=["fn"]
        )[0]
        want = sorted(
            (
                (i, bm25_sum(i, qterms))
                for i in alive
                if any(tfs[i][t] for t in qterms) and not tfs[i]["fn"]
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )[:10]
        assert [x for x, _ in got] == [x for x, _ in want], stage
        # exact phrase over the positional payload (survives appends,
        # tombstones, tiered compaction, merges)
        from bugzilla_etl_spark.index import phrase_search

        seqs = {i: py_analyze(meta[i][1]) for i in alive}
        got = phrase_search(spark, d, "return int", k=10)
        want = sorted(
            (
                (i, bm25_sum(i, qterms))
                for i in alive
                if any(
                    seqs[i][j : j + 2] == qterms
                    for j in range(len(seqs[i]) - 1)
                )
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )[:10]
        assert [x for x, _ in got] == [x for x, _ in want], stage
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9), stage

    rng_dead = sorted(meta)  # deterministic delete order
    di = 0
    for b in range(2, N_BATCHES + 1):
        # only rows that have "arrived" by batch b are visible — each
        # loop iteration is one 10-minute window of the reference cadence
        m = run_incremental_update(
            spark,
            source.filter(F.col("updated_ts") <= b),
            d,
            ts_col="updated_ts",
            compact_max_segments=4,
        )
        assert read_watermark(d) == b
        alive |= batch_ids[b]
        assert len(m.segments) <= 5  # tiered compaction bounds the tail
        if b % 5 == 0:
            # delete a handful of docs that are currently alive
            dead = []
            while len(dead) < 6 and di < len(rng_dead):
                cand = rng_dead[di]
                di += 1
                if cand in alive:
                    dead.append(cand)
            delete_docs(spark, d, dead, auto_compact_ratio=0.02)
            alive -= set(dead)
            deleted |= set(dead)
            check_invariants(f"after-delete-b{b}")
        if b % 10 == 0:
            check_queries(f"mid-b{b}")
        if b == 15:
            # r5: GC the retired segment dirs mid-soak — churn continues
            # on a gc'd index with zero behavioral change
            from bugzilla_etl_spark.index import gc_retired

            gc_retired(d, grace_s=0)
            check_invariants(f"post-gc-b{b}")

    check_invariants("pre-merge")
    merge_segments(spark, d)
    check_invariants("post-merge")
    check_queries("post-merge")

    # golden-output equivalence: the long maintenance history converges
    # to the same index a from-scratch build of the survivors produces
    d2 = str(tmp_path / "fresh")
    build_index(
        spark,
        source.drop("updated_ts").join(
            spark.createDataFrame([(int(x),) for x in alive], "doc_id long"),
            F.xxhash64("repo", "path", "commit") == F.col("doc_id"),
            "left_semi",
        ),
        d2,
        n_shards=2, n_tb=2, n_salts=2, n_sb=2, block_size=16,
        positions=True,
    )
    assert index_checksum(spark, d) == index_checksum(spark, d2)
    source.unpersist()
