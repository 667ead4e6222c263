#!/usr/bin/env python3
"""Answer-and-score parity harness for the search entries of two checkouts.

    python3 tools/search_parity.py PARENT_REPO IDX_ROOT parent.pkl --build
    python3 tools/search_parity.py CHANGE_REPO IDX_ROOT change.pkl
    python3 tools/search_parity.py --compare parent.pkl change.pkl

``--build`` writes one index under IDX_ROOT with the named checkout:
three segments (a build and two appends), 40 tombstones, positions, and
two extra fields (``sh``: code_v1_shingle, ``st``: code_v1_stop) so a
multi_match can sum three fields. Every run then calls each search
entry below on both ``execution`` routes, importing the package of
REPO, and pickles {(entry, route): ("ok", result) | ("err", message)}:
``search_many`` (OR/AND/msm/should/must_not/predicate),
``phrase_search_many`` (gate/phrase_freq/sloppy_freq, slop,
``ordered=False``, must_not, predicate), ``match_phrase_prefix``,
``multi_match`` (best/most fields, must_not), ``bool_search`` shapes
(also paged with ``search_after`` in pages of 7, concatenated),
``terms_agg(sub_hits)`` and ``matches_df``.

The ``hot:`` entries are the hot-list pass: ``query.HOT_POSTINGS`` is
forced to 64 (the index's lists never pass 4096 postings per bucket)
and ``search_many`` runs with k=10, so ``_score_single_hot``,
``_score_multi_hot`` and the selective+hot candidate probe (``imp_at``)
do the scoring: single-term, all-hot and selective+hot queries, plain,
filtered and with must_not, on the tombstoned index and on ``h``, a
second index without tombstones (the single-term hot scorer runs only
there). A checkout whose bucket scorer reads the threshold when the
request is planned applies it on the Spark route too; an older one
scores the Spark route exhaustively, which must give the same bits.

Two modes. (a) Same files: ``--build`` once with the parent checkout,
then run both checkouts on that IDX_ROOT; this checks that a change
reads the parent's on-disk format. (b) Own builds: each checkout runs
with ``--build`` into its own IDX_ROOT (the corpus and ids are
deterministic, so both build the same documents); this checks a change
that writes a new on-disk format against the old one, which a parent
checkout cannot read. A change of the postings format needs both.

``--compare`` prints, per call, whether both sides return the same ids
in the same order and, where they do, how many scores differ and the
largest difference; it also checks local == Spark on each side. Exit
status 1 when ids/ranks differ or a side's routes disagree; score-only
differences are reported, not failed. Run from a directory outside
the repo.
"""

from __future__ import annotations

import os
import pickle
import sys
import time

#: the hot-list threshold of the ``hot:`` entries
HOT_POSTINGS = 64


def build(spark, root):
    from bugzilla_etl_spark.corpus import generate_corpus
    from bugzilla_etl_spark.index import build_index, incremental_update
    from bugzilla_etl_spark.index.build import delete_docs
    from bugzilla_etl_spark.index.manifest import IndexManifest

    d = os.path.join(root, "s")
    build_index(spark, generate_corpus(spark, 500, partitions=4), d, n_shards=4, n_tb=4,
                n_sb=2, block_size=32, positions=True,
                extra_fields={"sh": "code_v1_shingle", "st": "code_v1_stop"})
    incremental_update(spark, generate_corpus(spark, 250, partitions=4, start=500), d)
    incremental_update(spark, generate_corpus(spark, 150, partitions=4, start=750), d)
    m = IndexManifest.load(d)
    assert len(m.segments) == 3, len(m.segments)
    ids = [r["doc_id"] for r in spark.read.parquet(m.segment_dirs(d)[0] + "/docs").select("doc_id").collect()]
    delete_docs(spark, d, sorted(ids)[::9][:40], auto_compact_ratio=None)
    h = os.path.join(root, "h")
    build_index(spark, generate_corpus(spark, 600, partitions=4), h, n_shards=4, n_tb=4,
                n_sb=2, block_size=32)
    incremental_update(spark, generate_corpus(spark, 300, partitions=4, start=600), h)


def run(spark, root):
    from bugzilla_etl_spark.index import (
        Bool, bool_search, match_phrase_prefix_search_many, matches_df,
        multi_match_search_many, phrase_search_many, search_many, terms_agg,
    )
    from bugzilla_etl_spark.index import query as Q

    d = os.path.join(root, "s")
    qs = [(0, "return int fn", 600), (1, "struct impl", 600), (2, "fn self", 600)]
    pq = [(0, "return int", 600), (1, "int fn", 600)]
    pred = [("lang", "in", ("go", "rust", "c"))]
    S = {
        "or": {},
        "or_pred_not": {"predicate": pred, "must_not": ["struct"]},
        "and": {"operator": "and"},
        "and_should_overlap": {"operator": "and", "should": ["int"]},
        "and_should_disjoint": {"operator": "and", "should": ["while else"]},
        "and_pred_not": {"operator": "and", "predicate": pred, "must_not": ["self"]},
        "msm2": {"min_should_match": 2},
        "msm2_should": {"min_should_match": 2, "should": ["class"]},
        "msm1_should": {"min_should_match": 1, "should": ["pub"]},
    }
    P = {
        "gate": {},
        "phrase_freq": {"scoring": "phrase_freq"},
        "slop2_sloppy_freq": {"slop": 2, "scoring": "sloppy_freq"},
        "slop1_gate": {"slop": 1},
        "unordered_gate": {"slop": 2, "ordered": False},
        "unordered_sloppy": {"slop": 2, "ordered": False, "scoring": "sloppy_freq"},
        "must_not_pred": {"must_not": ["struct"], "predicate": pred},
    }
    MM = {
        "best2": {"fields": ["content", "sh"]},
        "most2": {"fields": ["content", "sh"], "combine": "most_fields"},
        "most3": {"fields": ["sh", "content", "st"], "combine": "most_fields"},
        "best3_not": {"fields": ["st", "content", "sh"], "must_not": ["impl"]},
    }
    B = {
        "must_and_should_overlap": Bool(must="return int", operator="and", should="int"),
        "must_and_should_disjoint": Bool(must="return int", operator="and", should="fn"),
        "must_msm_should": Bool(must="return int fn", min_should_match=2, should="self"),
        "phrase_freq": Bool(phrase="return int", phrase_scoring="phrase_freq"),
        "phrase_gate": Bool(phrase="return int"),
        "mm_most3": Bool(multi_match="return struct", mm_fields=("sh", "content", "st"),
                         mm_combine="most_fields"),
        "or_single": Bool(must="return int"),
        "composed": Bool(must=("fn", "return int"), should="self", must_not="impl"),
    }
    E = {}
    for n, kw in S.items():
        E[f"search_many:{n}"] = lambda ex, kw=kw: search_many(spark, d, qs, execution=ex, **kw)
    for n, kw in P.items():
        E[f"phrase:{n}"] = lambda ex, kw=kw: phrase_search_many(spark, d, pq, execution=ex, **kw)
    E["match_phrase_prefix"] = lambda ex: match_phrase_prefix_search_many(
        spark, d, [(0, "return in", 50), (1, "int f", 50)], execution=ex)
    for n, kw in MM.items():
        kw = dict(kw)
        fields = kw.pop("fields")
        E[f"multi_match:{n}"] = lambda ex, kw=kw, fields=fields: multi_match_search_many(
            spark, d, [(0, "return struct", 600), (1, "fn impl self", 600)],
            fields, execution=ex, **kw)
    # a stopword-only text: nothing to read on the stop field but its
    # must_not pairs
    E["multi_match:stopword_must_not"] = lambda ex: multi_match_search_many(
        spark, d, [(0, "this", 600)], ["content", "st"], must_not=["impl"], execution=ex)

    def paged(q, ex, size=7):
        out, after = [], None
        while True:
            page = bool_search(spark, d, q, k=size, search_after=after, execution=ex)
            out += page
            if len(page) < size:
                return out
            after = (page[-1][1], page[-1][0])  # (last_score, last_doc_id)

    for n, q in B.items():
        E[f"bool:{n}"] = lambda ex, q=q: bool_search(spark, d, q, k=600, execution=ex)
        E[f"bool_paged:{n}"] = lambda ex, q=q: paged(q, ex)
        E[f"terms_agg_sub_hits:{n}"] = lambda ex, q=q: terms_agg(
            spark, d, "lang", query=q, size=10, sub_hits=600, execution=ex)
    for n in ("must_and_should_overlap", "phrase_freq", "mm_most3"):
        E[f"matches_df:{n}"] = lambda ex, q=B[n]: sorted(
            (r["doc_id"], r["score"]) for r in matches_df(spark, d, q).collect())

    def hot(root_name, kw):
        def call(ex):
            old, Q.HOT_POSTINGS = Q.HOT_POSTINGS, HOT_POSTINGS
            try:
                return search_many(spark, os.path.join(root, root_name), hq, execution=ex, **kw)
            finally:
                Q.HOT_POSTINGS = old
        return call

    hq = [(0, "return", 10), (1, "switch", 10), (2, "return int fn", 10),
          (3, "struct impl pub", 10), (4, "r40_sym6 return", 10),
          (5, "r47_sym27 r0_sym13 self int", 10)]
    for root_name in ("s", "h"):
        for n, kw in (("plain", {}), ("pred", {"predicate": pred}), ("not", {"must_not": ["while"]})):
            E[f"hot:{root_name}:{n}"] = hot(root_name, kw)
    out = {}
    for en, fn in E.items():
        for ex in ("local", "spark"):
            t0 = time.perf_counter()
            try:
                out[(en, ex)] = ("ok", fn(ex))
            except Exception as exc:  # noqa: BLE001
                out[(en, ex)] = ("err", f"{type(exc).__name__}: {exc}")
            print(f"{en} {ex} {time.perf_counter() - t0:.2f}s", file=sys.stderr, flush=True)
    return out


def _hits(res):
    """Flatten one entry's answer to [(query, doc_id, score)] in rank order."""
    if isinstance(res, dict):
        return [(q, d, s) for q in sorted(res) for d, s in res[q]]
    if res and isinstance(res[0], tuple) and len(res[0]) == 3:  # terms_agg buckets
        return [(val, d, s) for val, _cnt, hits in res for d, s in hits]
    return [(0, d, s) for d, s in res]


def compare(A, B) -> int:
    if A.keys() != B.keys():
        raise SystemExit("the two runs called different entries")
    fail = 0
    for R, side in ((A, "A"), (B, "B")):
        for (en, ex), v in R.items():
            if ex == "local" and v != R[(en, "spark")]:
                print(f"LOCAL!=SPARK on {side}: {en}")
                fail = 1
    for en in sorted({k[0] for k in A}):
        a, b = A[(en, "local")], B[(en, "local")]
        if a[0] == "err" or b[0] == "err":
            same = a[0] == b[0] and a[1].split(":")[0] == b[1].split(":")[0]
            print(f"{'ERR ' if same else 'DIFF'} {en}: A {a[1] if a[0] == 'err' else 'ok'} | "
                  f"B {b[1] if b[0] == 'err' else 'ok'}")
            fail |= not same
            continue
        ha, hb = _hits(a[1]), _hits(b[1])
        sa, sb = {x[:2]: x[2] for x in ha}, {x[:2]: x[2] for x in hb}
        diffs = [abs(sa[x] - sb[x]) for x in sa.keys() & sb.keys() if sa[x] != sb[x]]
        moved = sum(x[:2] != y[:2] for x, y in zip(ha, hb)) + abs(len(ha) - len(hb))
        if moved:
            print(f"IDS  {en}: {len(ha)} vs {len(hb)} hits, {moved} ranks differ, "
                  f"{len(sa.keys() ^ sb.keys())} hits in one side only; {len(diffs)} "
                  f"common scores differ, max |d| {max(diffs, default=0):.3g}")
            fail = 1
        elif diffs:
            print(f"SCOR {en}: {len(diffs)}/{len(ha)} scores differ, max |d| {max(diffs):.3g}")
        else:
            print(f"SAME {en}: {len(ha)} hits")
    return fail


def main():
    if sys.argv[1] == "--compare":
        with open(sys.argv[2], "rb") as fa, open(sys.argv[3], "rb") as fb:
            return compare(pickle.load(fa), pickle.load(fb))
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
