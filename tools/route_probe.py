#!/usr/bin/env python3
"""Time every kind of ``_execute_buckets`` request on both routes and fit
the route model's cost per candidate-generator posting (``C_CAND_MS``).

    python3 tools/route_probe.py [--docs 100000,200000,300000] [--n-sb 8]
        [--reps 3] [--master local[4]] > probe8.txt
    python3 tools/route_probe.py --fit probe8.txt probe4.txt ...

Per index size it builds one synthetic single-segment index (``n_sb``
work items; positions, a shingle field, ``parent``/``tag``/``embedding``
doc attrs) in a temporary directory and runs each request below forced
``local`` and forced ``spark``, ``--reps`` times alternately (both must
return the same answer). A spy on ``query.route`` records the request's
work items, estimate and the unit cost its executor prices the estimate
at (``C_POST_MS`` or ``C_CAND_MS``). Prints one JSON line per request,
then for each unit-cost class the measured cost per estimated posting
and the total regret (ms lost to the slower route over all requests in
the class) of the fixed 50k gate, of the module constant, of the
constants that minimise it, and of the smallest constant that runs no
request in the driver that the fan-out serves faster. ``--fit`` redoes
that summary over saved outputs (several runs, ``--n-sb`` values or
machines). Content is ``alpha {beta|gamma} t<i%97> d<i%5>``, so the
dfs are 1, 1/2, 1/97 and 1/5 of the docs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bugzilla_etl_spark.index import Bool, bool_search_many, build_index, search_many  # noqa: E402
from bugzilla_etl_spark.index import query as Q  # noqa: E402
from bugzilla_etl_spark.index.aggs import composite_agg, filters_agg, multi_agg, terms_agg  # noqa: E402
from bugzilla_etl_spark.index.knn import knn_search_many  # noqa: E402
from bugzilla_etl_spark.index.multimatch import multi_match_search_many  # noqa: E402
from bugzilla_etl_spark.index.nested import nested_search_many, nested_terms_agg  # noqa: E402
from bugzilla_etl_spark.session import get_spark  # noqa: E402

VECS = [[float((q * 7 + k) % 5) - 2 for k in range(8)] for q in range(8)]
BY_LANG = {"by_lang": {"kind": "terms", "attr": "lang", "size": 10}}
REQUESTS = {
    "search_should": lambda s, d, ex: search_many(s, d, [(0, "beta t1", 10), (1, "gamma t2", 10)], execution=ex),
    "search_and": lambda s, d, ex: search_many(s, d, [(0, "alpha beta", 10)], operator="and", execution=ex),
    "search_msm": lambda s, d, ex: search_many(s, d, [(0, "beta d1 d2", 10)], min_should_match=2, execution=ex),
    "phrase": lambda s, d, ex: Q.phrase_search_many(s, d, [(0, "alpha beta", 10)], execution=ex),
    "bool": lambda s, d, ex: bool_search_many(
        s, d, [(0, Bool(must=("beta", "alpha t5"), must_not="t7"), 10),
               (1, Bool(must=("gamma", "alpha t6"), must_not="t7"), 10)], execution=ex),
    "multi_match": lambda s, d, ex: multi_match_search_many(s, d, [(0, "beta t3", 10)], ["content", "sh"], execution=ex),
    "nested": lambda s, d, ex: nested_search_many(s, d, [(0, "alpha beta", 10)], "parent", execution=ex),
    "nested_terms_agg": lambda s, d, ex: nested_terms_agg(s, d, "tag", "alpha beta", parent_attr="parent", execution=ex),
    "terms_agg": lambda s, d, ex: terms_agg(s, d, "lang", execution=ex),
    "terms_agg_query": lambda s, d, ex: terms_agg(s, d, "lang", query=Bool(must=("beta", "alpha t5")), execution=ex),
    "filters_agg": lambda s, d, ex: filters_agg(
        s, d, {"py": [("lang", "==", "python")], "go": [("lang", "==", "go")]}, execution=ex),
    "composite_agg_phrase": lambda s, d, ex: composite_agg(s, d, ["lang"], query=Bool(phrase="alpha gamma"), execution=ex),
    "multi_agg": lambda s, d, ex: multi_agg(s, d, BY_LANG, execution=ex),
    "multi_agg_query": lambda s, d, ex: multi_agg(s, d, BY_LANG, query=Bool(must="gamma", must_not="t7"), execution=ex),
    "knn": lambda s, d, ex: knn_search_many(s, d, [(q, v, 10) for q, v in enumerate(VECS)], execution=ex),
}


def build(spark, d: str, n_docs: int, n_sb: int) -> None:
    i = F.col("id")
    corpus = spark.range(n_docs).select(
        F.concat(F.lit("org/r"), (i % 7).cast("string")).alias("repo"),
        F.concat(F.lit("src/f"), i.cast("string"), F.lit(".py")).alias("path"),
        F.lit("c0").alias("commit"),
        F.when(i % 3 == 0, "python").otherwise("go").alias("lang"),
        (i / 4).cast("long").alias("parent"),
        F.concat(F.lit("g"), (i % 11).cast("string")).alias("tag"),
        F.array(*[F.sin(i * (k + 1) * 0.37 + k).cast("double") for k in range(8)]).alias("embedding"),
        F.concat_ws(
            " ", F.lit("alpha"), F.when(i % 2 == 0, "beta").otherwise("gamma"),
            F.concat(F.lit("t"), (i % 97).cast("string")),
            F.concat(F.lit("d"), (i % 5).cast("string")),
        ).alias("content"),
    )
    build_index(spark, corpus, d, n_shards=8, n_tb=4, n_sb=n_sb, positions=True,
                doc_attrs=["parent", "embedding", "tag"], extra_fields={"sh": "code_v1_shingle"})


def probe(spark, d: str, reps: int) -> list[dict]:
    seen = []
    real_route = Q.route

    def spy(n_work, est, cores, **kw):
        seen.append((n_work, int(est), kw.get("c_post_ms")))
        return real_route(n_work, est, cores, **kw)

    Q.route = spy
    rows = []
    try:
        for name, run in REQUESTS.items():
            seen.clear()
            run(spark, d, "auto")
            (n_work, est, c_post), = seen
            ts = {"local": [], "spark": []}
            out = {}
            for _ in range(reps):
                for ex in ts:
                    t0 = time.perf_counter()
                    out[ex] = run(spark, d, ex)
                    ts[ex].append((time.perf_counter() - t0) * 1e3)
            if out["local"] != out["spark"]:
                raise SystemExit(f"{name}: local and spark answers differ")
            rows.append({
                "request": name, "unit": "cand" if c_post == Q.C_CAND_MS else "post",
                "work_items": n_work, "est": est,
                "local_ms": round(statistics.median(ts["local"])),
                "spark_ms": round(statistics.median(ts["spark"])),
            })
    finally:
        Q.route = real_route
    return rows


def regret(rows: list[dict], c_post_ms: float | None) -> tuple[float, int]:
    """(ms lost to the slower route over ``rows``, requests run in the
    driver although the fan-out is faster); None = the fixed gate."""
    lost, slow_local = 0.0, 0
    for r in rows:
        if c_post_ms is None:
            local = r["est"] <= Q.LOCAL_MAX_POSTINGS and r["work_items"] <= Q.LOCAL_MAX_BUCKETS
        else:
            local = Q.route(r["work_items"], r["est"], r["cores"], c_post_ms=c_post_ms)[0] == "local"
        lost += (r["local_ms"] if local else r["spark_ms"]) - min(r["local_ms"], r["spark_ms"])
        slow_local += local and r["local_ms"] > r["spark_ms"]
    return lost, slow_local


def fit(rows: list[dict]) -> None:
    grid = [x / 10000 for x in range(10, 201)]  # 1-20 us per posting
    for unit, const in (("post", Q.C_POST_MS), ("cand", Q.C_CAND_MS)):
        sub = [r for r in rows if r["unit"] == unit]
        if not sub:
            continue
        rates = [(r["local_ms"] - r["work_items"] * Q.C_ITEM_MS) / r["est"] * 1e3 for r in sub if r["est"]]
        by_c = {c: regret(sub, c) for c in grid}
        best = min(lost for lost, _ in by_c.values())
        window = [c for c, (lost, _) in by_c.items() if lost == best]
        safe = min(c for c, (_, slow) in by_c.items() if not slow)
        fixed, model = regret(sub, None), regret(sub, const)
        print(
            f"{unit}: {len(sub)} requests; measured local cost"
            f" {min(rates):.1f}-{max(rates):.1f} us/posting (median {statistics.median(rates):.1f})\n"
            f"  regret ms (requests run in the driver although slower there):"
            f" fixed gate {fixed[0]:.0f} ({fixed[1]}), model at {const * 1e3:.1f} us"
            f" {model[0]:.0f} ({model[1]}); least regret {best:.0f} at"
            f" {window[0] * 1e3:.1f}-{window[-1] * 1e3:.1f} us; smallest cost with none"
            f" slower in the driver {safe * 1e3:.1f} us (regret {by_c[safe][0]:.0f})"
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", default="100000,200000,300000")
    ap.add_argument("--n-sb", type=int, default=8)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--fit", nargs="+", metavar="OUT", help="fit saved outputs instead of probing")
    args = ap.parse_args()
    if args.fit:
        rows = [json.loads(ln) for p in args.fit for ln in open(p) if ln.startswith("{")]
        fit(rows)
        return 0
    spark = get_spark(master=args.master)
    rows = []
    for n_docs in (int(x) for x in args.docs.split(",")):
        d = tempfile.mkdtemp(prefix="route_probe_")
        try:
            build(spark, os.path.join(d, "idx"), n_docs, args.n_sb)
            for r in probe(spark, os.path.join(d, "idx"), args.reps):
                r.update(n_docs=n_docs, cores=Q._cores(spark))
                rows.append(r)
                print(json.dumps(r), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    spark.stop()
    fit(rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
