"""Layer probes of the traced run.

Each probe times calls into one layer's public functions from outside
the package, on the workload's own index and corpus. Probes run after
the measured window and under their own ``probe.*`` spans, so they never
mix with request spans. Every per-layer metric is produced on every
workload; ``merge.*`` and ``bloom.segments_pruned_frac`` come from the
workload's ingest cycles, or from one probe cycle where the workload
has none.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from bugzilla_etl_spark.index import IndexManifest, explain_search, prepare_docs, search_many

from inputs import HOT_POOL, K, Inputs

med = statistics.median
CLASSES = ("hot", "rare", "batch8")
PROBE_REQUESTS = 2  # per class and route


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(ctx, name: str, fn, **attrs) -> float:
    with ctx.tracer.span(name, req=0, **attrs):
        t0 = time.monotonic()
        fn()
        return time.monotonic() - t0


def jvm_gc_ms(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def tokenize_probes(ctx, texts: list[str]) -> dict:
    from bugzilla_etl_spark.tokenize import py_analyze, spark_analyze_df

    spark_s = _timed(ctx, "probe.tokenize.spark_analyze_df",
                     lambda: _noop(spark_analyze_df(ctx.corpus, "content")))
    per_call = []
    for _ in range(50):
        for t in texts:
            t0 = time.perf_counter()
            py_analyze(t)
            per_call.append(time.perf_counter() - t0)
    return {"tokenize.spark_analyze_s": spark_s, "tokenize.py_analyze_us": med(per_call) * 1e6}


def codec_probes(index_dir: str) -> dict:
    """Decode, then re-encode, the hot terms' block columns of the first
    segment. The re-encoding must reproduce the stored bytes."""
    import pyarrow.dataset as ds

    from bugzilla_etl_spark.codec import delta_decode, varint_decode, varint_encode_segmented

    seg = IndexManifest.load(index_dir).segment_dirs(index_dir)[0]
    tbl = ds.dataset(os.path.join(seg, "postings"), format="parquet", partitioning="hive").to_table(
        columns=["gaps", "tfs", "dls"], filter=ds.field("term").isin(HOT_POOL)
    )
    cols = {c: tbl.column(c).to_pylist() for c in ("gaps", "tfs", "dls")}
    n_bytes = sum(len(b) for bufs in cols.values() for b in bufs)
    dec_s, enc_s = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        vals = {c: [varint_decode(b) for b in bufs] for c, bufs in cols.items()}
        for g in vals["gaps"]:
            delta_decode(g)
        dec_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        enc = {}
        for c, arrs in vals.items():
            starts = np.cumsum([0] + [len(a) for a in arrs[:-1]])
            enc[c] = varint_encode_segmented(np.concatenate(arrs), starts)
        enc_s.append(time.perf_counter() - t0)
    if enc != cols:
        raise AssertionError("codec round trip changed the stored block bytes")
    return {
        "codec.decode_mb_per_s": n_bytes / 1e6 / med(dec_s),
        "codec.encode_mb_per_s": n_bytes / 1e6 / med(enc_s),
    }


def build_probes(ctx, index_dir: str) -> dict:
    from bugzilla_etl_spark.index.bloom import write_segment_blooms
    from bugzilla_etl_spark.index.build import spimi_encode
    from bugzilla_etl_spark.session import python_stage_tuning

    m = IndexManifest.load(index_dir)
    prepared = prepare_docs(ctx.corpus, m.n_shards)
    docs_s = _timed(ctx, "probe.build.prepare_docs", lambda: _noop(prepared))

    def encode():
        with python_stage_tuning(ctx.spark):
            _noop(spimi_encode(
                prepared, {"content": m.avgdl}, {"content": m.field_chain()},
                m.k1, m.b, m.block_size, m.n_tb, m.n_salts,
            ))

    encode_s = _timed(ctx, "probe.build.spimi_encode", encode)
    seg_copy = ctx.path("probe_bloom")
    shutil.copytree(m.segment_dirs(index_dir)[0], seg_copy)
    bloom_s = _timed(ctx, "probe.bloom.write_segment_blooms", lambda: write_segment_blooms(
        ctx.spark, seg_copy, m.n_shards, n_docs_hint=m.segments[0]["n_docs"]))
    shutil.rmtree(seg_copy)
    warm = ctx.builds[1:]  # the first build is the cold one
    batch_s = med(b["postings_batch_s"] for b in warm)
    return {
        "build.docs_pass_s": docs_s,
        "build.encode_s": encode_s,
        "build.postings_batch_s": batch_s,
        "build.other_s": med(b["s"] - b["postings_batch_s"] for b in warm),
        "bloom.write_s": bloom_s,
    }


def manifest_probes(ctx, index_dir: str) -> dict:
    loads, commits = [], []
    copy = ctx.path("probe_manifest")
    for _ in range(50):
        t0 = time.perf_counter()
        m = IndexManifest.load(index_dir)
        loads.append(time.perf_counter() - t0)
    for _ in range(20):
        t0 = time.perf_counter()
        m.commit(copy)
        commits.append(time.perf_counter() - t0)
    shutil.rmtree(copy)
    return {"manifest.load_ms": med(loads) * 1e3, "manifest.commit_ms": med(commits) * 1e3}


def query_probes(ctx, index_dir: str) -> tuple[dict, list[str]]:
    """Per class: the plan (explain_search), the route the gate picks,
    and the same request run with the gate's choice and forced to each
    route. Returns the metrics and every probe query text."""
    from bugzilla_etl_spark.index import query as Q

    m = IndexManifest.load(index_dir)
    pin = Inputs(ctx.inputs.seed)  # the same generator the workloads use
    out, all_texts, plans_ms = {}, [], []
    for cls in CLASSES:
        t = {"plan": [], "est": [], "work": [], "spark": [], "ms_auto": [], "ms_local": [], "ms_spark": []}
        for _ in range(PROBE_REQUESTS):
            texts = pin.request(cls, 2)
            all_texts += texts
            queries = [(j, q, K) for j, q in enumerate(texts)]
            with ctx.tracer.span("probe.query.explain_search", req=0, cls=cls):
                t0 = time.monotonic()
                plans = [explain_search(index_dir, q) for q in texts]
                t["plan"].append(time.monotonic() - t0)
            est = sum(p["estimated_postings"] for p in plans)
            segs = set().union(*(p["candidate_segments"] for p in plans))
            work = len(segs) * m.n_sb
            t["est"].append(est)
            t["work"].append(work)
            t["spark"].append(not (est <= Q.LOCAL_MAX_POSTINGS and work <= Q.LOCAL_MAX_BUCKETS))
            for route in ("auto", "local", "spark"):
                t[f"ms_{route}"].append(_timed(
                    ctx, f"probe.query.search_many.{route}",
                    lambda: search_many(ctx.spark, index_dir, queries, execution=route),
                    cls=cls,
                ) * 1e3)
        plans_ms += [s * 1e3 for s in t["plan"]]
        local, spark, auto = med(t["ms_local"]), med(t["ms_spark"]), med(t["ms_auto"])
        out.update({
            f"query.{cls}.est_postings": med(t["est"]),
            f"query.{cls}.work_items": med(t["work"]),
            f"query.{cls}.route_spark_frac": sum(t["spark"]) / len(t["spark"]),
            f"query.{cls}.local_ms": local,
            f"query.{cls}.spark_ms": spark,
            f"query.{cls}.gate_regret_ms": auto - min(local, spark),
            f"query.{cls}.execute_ms": local - med(t["plan"]) * 1e3,
        })
    out["query.plan_ms"] = med(plans_ms)
    out["query.spark_floor_ms"] = spark_floor_ms(ctx, index_dir, m)
    return out, all_texts


def spark_floor_ms(ctx, index_dir: str, m) -> float:
    """The Spark fan-out with a scorer that does nothing: one task per
    (segment, shard-bucket) work item, no reads, no results."""
    import pandas as pd

    from bugzilla_etl_spark.index.query import RESULT_SCHEMA, bucket_tasks_df

    def empty_scorer(item, _pred):
        return pd.DataFrame()

    work = [(s["id"], sb) for s in m.segments for sb in range(m.n_sb)]
    return med(
        _timed(ctx, "probe.query.bucket_tasks_df",
               lambda: bucket_tasks_df(ctx.spark, work, empty_scorer, RESULT_SCHEMA).toPandas())
        for _ in range(3)
    ) * 1e3


def merge_metrics(cycles: list[dict]) -> dict:
    merged = [c for c in cycles if c["merges"]]
    return {
        "merge.compact_s": med(c["merge_s"] for c in merged),
        "merge.write_amp": med(c["merge_bytes"] / c["content_bytes"] for c in merged),
        "merge.max_segments": max(c["max_segments"] for c in cycles),
        "bloom.segments_pruned_frac": sum(c["pruned"] for c in cycles)
        / sum(c["candidates"] for c in cycles),
    }
