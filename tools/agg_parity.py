#!/usr/bin/env python3
"""Answer-equality harness for the aggregation entries of two checkouts.

    python3 tools/agg_parity.py PARENT_REPO IDX_ROOT parent.pkl --build
    python3 tools/agg_parity.py CHANGE_REPO IDX_ROOT change.pkl
    python3 tools/agg_parity.py --compare parent.pkl change.pkl

``--build`` writes two indexes under IDX_ROOT with the named checkout:
``a`` (three segments — a build and two appends — with 40 tombstones,
positions, stored source, a shingle field and ``n_chars``/``ts_ms``/
``grp`` doc attrs, ``grp`` partly null) and ``b`` (one segment, the
second member for ``multi_index_terms_agg``). Every run then calls each
public agg entry (terms and its order/sub_stats/sub_hits variants,
cardinality exact and HLL, range, histogram, date_histogram, stats,
percentiles, significant_terms/_text, filters, adjacency_matrix,
count_matches, missing, composite with and without ``after``,
multi_agg, collapse inner_hits, multi_index_terms_agg) under every
query shape below and both ``execution`` routes, importing the package
of REPO, and pickles {(entry, query, route): ("ok", result) |
("err", message)}. ``--compare`` exits non-zero when any call answers
differently; calls that raise on both sides count as equal when the
exception type matches (wording may change) and are listed.

Two modes. (a) Same files: ``--build`` once with the parent checkout,
then run both checkouts on that IDX_ROOT; this checks that a change
reads the parent's on-disk format. (b) Own builds: each checkout runs
with ``--build`` into its own IDX_ROOT (the corpus and ids are
deterministic, so both build the same documents); this checks a change
that writes a new on-disk format against the old one, which a parent
checkout cannot read. A change of the postings format needs both. Run
from a directory outside the repo, like any driver of the package.
"""

from __future__ import annotations

import os
import pickle
import sys


def build(spark, root):
    from pyspark.sql import functions as F

    from bugzilla_etl_spark.corpus import generate_corpus
    from bugzilla_etl_spark.index import build_index, incremental_update
    from bugzilla_etl_spark.index.build import delete_docs
    from bugzilla_etl_spark.index.manifest import IndexManifest

    def corpus(n, start):
        c = generate_corpus(spark, n, partitions=4, start=start)
        h = F.xxhash64("path")
        return (c.withColumn("n_chars", F.length("content"))
                .withColumn("ts_ms", F.lit(1_600_000_000_000) + F.abs(h) % (400 * 86_400_000))
                .withColumn("grp", F.when(F.abs(h) % 5 == 0, F.lit(None)).otherwise(F.abs(h) % 7)))

    a, b = os.path.join(root, "a"), os.path.join(root, "b")
    build_index(spark, corpus(500, 0), a, n_shards=4, n_tb=4, n_sb=2, block_size=32,
                doc_attrs=["n_chars", "ts_ms", "grp"], positions=True, store_source=True,
                extra_fields={"sh": "code_v1_shingle"})
    incremental_update(spark, corpus(250, 500), a)
    incremental_update(spark, corpus(150, 750), a)
    m = IndexManifest.load(a)
    assert len(m.segments) == 3, len(m.segments)
    ids = [r["doc_id"] for r in spark.read.parquet(m.segment_dirs(a)[0] + "/docs").select("doc_id").collect()]
    delete_docs(spark, a, sorted(ids)[::9][:40], auto_compact_ratio=None)
    build_index(spark, corpus(200, 2000), b, n_shards=4, n_tb=4, n_sb=2, block_size=32,
                doc_attrs=["n_chars", "ts_ms", "grp"], positions=True, store_source=True,
                extra_fields={"sh": "code_v1_shingle"})


def run(spark, root):
    from bugzilla_etl_spark.index import (
        Bool, adjacency_matrix_agg, bool_search, cardinality_agg, composite_agg,
        count_matches, date_histogram_agg, filters_agg, histogram_agg, missing_agg,
        multi_agg, percentiles_agg, range_agg, significant_terms_agg,
        significant_text_agg, stats_agg, terms_agg,
    )
    from bugzilla_etl_spark.index.alias import multi_index_terms_agg

    a, b = os.path.join(root, "a"), os.path.join(root, "b")
    Q = {
        "none": None,
        "must": Bool(must="return int"),
        "should": Bool(should=("struct", "impl")),
        "must_should": Bool(must="fn", should=("struct",)),
        "must_not": Bool(must="fn", must_not="struct"),
        "phrase": Bool(phrase="return int"),
        "multi_match": Bool(multi_match="return struct", mm_fields=("content", "sh")),
        "predicate": Bool(must="return", filter=(("lang", "in", ("go", "rust", "c")),)),
        "pred_only": Bool(filter=(("n_chars", ">", 300),)),
        "nothing": Bool(must="qzx_nothere"),
    }
    F = {"py": [("lang", "==", "python")], "long": [("n_chars", ">=", 400)],
         "nogrp": [("grp", "exists", False)]}
    E = {
        "terms": lambda q, ex: terms_agg(spark, a, "lang", query=q, execution=ex),
        "terms_size2": lambda q, ex: terms_agg(spark, a, "grp", query=q, size=2, execution=ex),
        "terms_order_key_desc": lambda q, ex: terms_agg(spark, a, "lang", query=q, order=("_key", "desc"), execution=ex),
        "terms_order_count_asc": lambda q, ex: terms_agg(spark, a, "grp", query=q, order=("_count", "asc"), execution=ex),
        "terms_sub_stats": lambda q, ex: terms_agg(spark, a, "lang", query=q, sub_stats="n_chars", execution=ex),
        "terms_sub_hits": lambda q, ex: terms_agg(spark, a, "grp", query=q, sub_hits=3, execution=ex),
        "cardinality": lambda q, ex: cardinality_agg(spark, a, "n_chars", query=q, execution=ex),
        "cardinality_hll": lambda q, ex: cardinality_agg(spark, a, "n_chars", query=q, precision=10, execution=ex),
        "range": lambda q, ex: range_agg(spark, a, "n_chars", [(None, 200), (200, 400), (300, None)], query=q, execution=ex),
        "histogram": lambda q, ex: histogram_agg(spark, a, "n_chars", 100.0, query=q, execution=ex),
        "date_histogram": lambda q, ex: date_histogram_agg(spark, a, "ts_ms", "month", query=q, execution=ex),
        "stats": lambda q, ex: stats_agg(spark, a, "grp", query=q, execution=ex),
        "percentiles": lambda q, ex: percentiles_agg(spark, a, "n_chars", [0.0, 0.25, 0.5, 0.99, 1.0], query=q, execution=ex),
        "significant_terms": lambda q, ex: significant_terms_agg(spark, a, "lang", q, execution=ex),
        "significant_text": lambda q, ex: significant_text_agg(spark, a, q, size=15, execution=ex),
        "significant_text_sampled": lambda q, ex: significant_text_agg(spark, a, q, sample_per_bucket=20, execution=ex),
        "filters": lambda q, ex: filters_agg(spark, a, F, query=q, execution=ex),
        "adjacency_matrix": lambda q, ex: adjacency_matrix_agg(spark, a, F, query=q, execution=ex),
        "count_matches": lambda q, ex: count_matches(spark, a, query=q, execution=ex),
        "missing": lambda q, ex: missing_agg(spark, a, "grp", query=q, execution=ex),
        "composite": lambda q, ex: composite_agg(spark, a, ["lang", ("n_chars", 100)], query=q, size=5, execution=ex),
        "composite_after": lambda q, ex: composite_agg(spark, a, ["lang", ("n_chars", 100)], query=q, size=4, after=("go", 300.0), execution=ex),
        "composite_grp": lambda q, ex: composite_agg(spark, a, ["grp", "lang"], query=q, size=7, execution=ex),
        "multi_agg": lambda q, ex: multi_agg(spark, a, {
            "t": {"kind": "terms", "attr": "lang", "size": 3},
            "ts": {"kind": "terms", "attr": "lang", "sub_stats": "grp"},
            "th": {"kind": "terms", "attr": "lang", "sub_hits": 2},
            "s": {"kind": "stats", "attr": "n_chars"},
            "r": {"kind": "range", "attr": "n_chars", "ranges": [(0, 250), (250, None)]},
            "h": {"kind": "histogram", "attr": "n_chars", "interval": 150},
            "c": {"kind": "cardinality", "attr": "lang"},
            "ch": {"kind": "cardinality", "attr": "n_chars", "precision": 12},
            "p": {"kind": "percentiles", "attr": "n_chars", "qs": [0.1, 0.9]},
            "d": {"kind": "date_histogram", "attr": "ts_ms", "calendar": "quarter"},
        }, query=q, execution=ex),
        "multi_agg_sig_text": lambda q, ex: multi_agg(spark, a, {
            "st": {"kind": "sig_text", "size": 5, "field": "content"},
            "t": {"kind": "terms", "attr": "grp"},
        }, query=q, execution=ex),
        "collapse_inner_hits": lambda q, ex: bool_search(
            spark, a, q if q is not None else Bool(must="return"), k=4,
            collapse="grp", collapse_inner_hits=2, execution=ex),
        "multi_index_terms_agg": lambda q, ex: multi_index_terms_agg(spark, [a, b], "lang", query=q, size=4, execution=ex),
        "multi_index_terms_agg_key": lambda q, ex: multi_index_terms_agg(spark, [a, b], "grp", query=q, order=("_key", "asc"), execution=ex),
    }
    out = {}
    for en, fn in E.items():
        for qn, q in Q.items():
            for ex in ("local", "spark"):
                try:
                    out[(en, qn, ex)] = ("ok", fn(q, ex))
                except Exception as exc:  # noqa: BLE001
                    out[(en, qn, ex)] = ("err", f"{type(exc).__name__}: {exc}")
    return out


def main():
    if sys.argv[1] == "--compare":
        with open(sys.argv[2], "rb") as fa, open(sys.argv[3], "rb") as fb:
            A, B = pickle.load(fa), pickle.load(fb)
        if A.keys() != B.keys():
            raise SystemExit("the two runs called different entries")

        def same(a, b):
            if a[0] == b[0] == "err":
                return a[1].split(":")[0] == b[1].split(":")[0]
            return a == b

        bad = [k for k in A if not same(A[k], B[k])]
        errs = [k for k in A if A[k][0] == "err"]
        nonempty = [k for k in A if A[k][0] == "ok" and A[k][1] not in ([], 0, {})]
        lx = [k for R in (A, B) for k in R if k[2] == "local" and R[k] != R[(k[0], k[1], "spark")]]
        print(f"{len(A)} calls; {len(nonempty)} non-empty; {len(errs)} raise on A; "
              f"{len(bad)} differ A vs B; {len(lx)} local != spark")
        for k in bad:
            print("DIFF", k, "\n  A:", repr(A[k])[:300], "\n  B:", repr(B[k])[:300])
        for k in errs:
            if k[2] == "local":
                print("ERR", k[:2], "A:", A[k][1][:120], "| B:", B[k][1][:120])
        return 1 if bad or lx else 0
    repo, root, out_path = sys.argv[1:4]
    sys.path.insert(0, repo)
    from bugzilla_etl_spark.session import get_spark

    spark = get_spark(master="local[4]")
    if "--build" in sys.argv:
        build(spark, root)
    res = run(spark, root)
    with open(out_path, "wb") as f:
        pickle.dump(res, f)
    print("wrote", len(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
