"""ES ``multi_match``: one query scored across N analyzer-field
variants in ONE pass.

The reference indexes one field through four analyzer sub-fields
(two pattern tokenizers x plain/shingled,
configuration/es/bug_version.json:4-35,294-303) precisely so a single
query can address them together — ES ``multi_match`` with
``best_fields`` (per-doc max over fields: "the best matching variant
wins") or ``most_fields`` (per-doc sum: "every variant's evidence
adds"). Round 5 built the N per-field BM25 spaces in one index build
but a query addressed exactly one field (VERDICT r5 #5); this module
is the cross-field combiner.

Execution: the same ONE (segment, shard-bucket) fan-out as
query.search_many. Each bucket task reads every queried field's
postings for that field's OWN analysis of the query text (one pyarrow
scan, an OR-of-per-field predicates filter), accumulates per-field
BM25 sums over the candidate union (each field scores with ITS OWN
df/avgdl — the fields are independent BM25 spaces, exactly ES), and
combines per doc. Scoring is exhaustive-vectorized within the bucket:
cross-field max/sum has no per-field monotone bound cheap enough to
beat the vectorized pass at bucket granularity (a per-field block-max
combiner is possible future pruning; the candidate union is already
bounded by the per-field dfs).
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..codec import u64_to_doc_id
from ..oracle import idf as _idf
from ..tokenize import py_analyze
from .manifest import IndexManifest
from .postings import exclusion, read_allowed, read_bucket
from .predicate import validate_filter
from .query import (
    RESULT_SCHEMA,
    _allowed_mask,
    _candidate_dict_dirs,
    _empty_like,
    _execute_buckets,
    _lookup_terms,
    _merge_topk,
)

COMBINES = ("best_fields", "most_fields")


def _make_multimatch_bucket_scorer(
    index_dir: str,
    queries: dict[int, tuple[dict[str, list[str]], int]],
    idfs: dict[tuple[str, str], float],
    avgdls: dict[str, float],
    k1: float,
    b: float,
    tombstones: np.ndarray,
    fields: list[str],
    combine: str,
    predicate: list | None,
    n_shards: int,
    n_sb: int,
    neg_pairs: list[tuple[str, str]],
):
    """One work item = (segment, sb): one postings read serving EVERY
    queried field, per-field BM25 accumulation over the candidate
    union, per-doc combine (max/sum), bounded top-k per query."""
    want: dict[str, set] = defaultdict(set)
    for per_field, _k in queries.values():
        for f, ts in per_field.items():
            want[f].update(ts)
    for f, t in neg_pairs:
        want[f].add(t)
    empty = _empty_like(RESULT_SCHEMA)

    def run(key, _pdf):  # (key, pd.DataFrame) -> pd.DataFrame
        seg_id, sb = key[0], int(key[1])
        allowed = read_allowed(index_dir, seg_id, predicate, (sb, n_shards, n_sb))
        if allowed is not None and not len(allowed):
            return empty.copy()
        lists = read_bucket(
            index_dir, seg_id, sb, want, idfs, avgdls, k1, b
        )
        if not lists:
            return empty.copy()
        excl = exclusion(lists, neg_pairs, tombstones)

        out_q, out_d, out_s = [], [], []
        for qid, (per_field, k) in queries.items():
            pairs = [
                (f, t)
                for f in sorted(per_field)
                for t in per_field[f]
                if (f, t) in lists
            ]
            if not pairs:
                continue
            cand = np.unique(
                np.concatenate([lists[p].all_docs() for p in pairs])
            )
            if allowed is not None:
                cand = cand[_allowed_mask(cand, allowed)]
            if not len(cand):
                continue
            docs_i64 = u64_to_doc_id(cand)
            if excl.size:
                keep = ~np.isin(docs_i64, excl)
                cand, docs_i64 = cand[keep], docs_i64[keep]
            if not len(cand):
                continue
            # per-field accumulation in sorted (field, term) order ->
            # deterministic, oracle-identical sums per field
            combined = None
            for f in sorted(per_field):
                acc = np.zeros(len(cand), dtype=np.float64)
                touched = False
                for t in sorted(per_field[f]):
                    pt = lists.get((f, t))
                    if pt is None:
                        continue
                    _, imp = pt.imp_at(cand)
                    acc += imp
                    touched = True
                if not touched:
                    continue
                if combined is None:
                    combined = acc
                elif combine == "best_fields":
                    combined = np.maximum(combined, acc)
                else:  # most_fields
                    combined = combined + acc
            if combined is None:
                continue
            kk = min(k, len(cand))
            order = np.lexsort((docs_i64, -combined))[:kk]
            for oi in order:
                out_q.append(qid)
                out_d.append(int(docs_i64[oi]))
                out_s.append(float(combined[oi]))
        return pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score": out_s})

    return run


def multi_match_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    fields: list[str],
    combine: str = "best_fields",
    predicate: list | None = None,
    must_not: list[str] | None = None,
    execution: str = "auto",
) -> dict[int, list[tuple[int, float]]]:
    """Batch ES ``multi_match``: [(qid, text, k)] ->
    {qid: [(doc_id, combined_score)]}.

    The text is analyzed PER FIELD with that field's chain (a shingled
    variant sees bigram terms the plain variant never indexes); each
    field scores as its own BM25 space (own df/avgdl); per-doc combine:
    ``best_fields`` = max over fields (ES default — the best variant
    wins), ``most_fields`` = sum (every variant's evidence adds).
    ``predicate`` (filter context) and ``must_not`` (analyzed per
    field, a doc containing a negative term in ANY queried field is
    excluded) compose as in search_many."""
    if combine not in COMBINES:
        raise ValueError(f"combine must be one of {COMBINES}: {combine!r}")
    if not fields:
        raise ValueError("multi_match needs at least one field")
    if len(set(fields)) != len(fields):
        raise ValueError(f"duplicate fields: {fields}")
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    validate_filter(m, predicate)
    chains = {f: m.field_chain(f) for f in fields}  # validates the fields
    results: dict[int, list[tuple[int, float]]] = {int(q[0]): [] for q in queries}

    # per-field analysis + dictionary lookup (df is PER FIELD)
    per_field_all: dict[str, set] = {f: set() for f in fields}
    qspec: dict[int, tuple[dict[str, list[str]], int]] = {}
    for qid, text, k in queries:
        pf = {}
        for f in fields:
            ts = sorted(set(py_analyze(text, chains[f])))
            if ts:
                pf[f] = ts
                per_field_all[f].update(ts)
        if pf:
            qspec[int(qid)] = (pf, int(k))
    if not qspec:
        return results
    dfs: dict[tuple[str, str], int] = {}
    for f in fields:
        if not per_field_all[f]:
            continue
        for t, df in _lookup_terms(
            m, index_dir, sorted(per_field_all[f]), f
        ).items():
            dfs[(f, t)] = df
    if not dfs:
        return results
    # drop absent terms per field; a query lives while ANY field matches
    live: dict[int, tuple[dict[str, list[str]], int]] = {}
    for qid, (pf, k) in qspec.items():
        eff = {
            f: [t for t in ts if (f, t) in dfs] for f, ts in pf.items()
        }
        eff = {f: ts for f, ts in eff.items() if ts}
        if eff:
            live[qid] = (eff, k)
    if not live:
        return results
    idfs = {p: _idf(m.n_docs, df) for p, df in dfs.items()}
    avgdls = {f: m.field_avgdl(f) for f in fields}

    neg_pairs: list[tuple[str, str]] = []
    neg_est = 0
    if must_not:
        for f in fields:
            neg_raw = sorted(
                {t for q in must_not for t in py_analyze(q, chains[f])}
            )
            if not neg_raw:
                continue
            neg_dfs = _lookup_terms(m, index_dir, neg_raw, f)
            for t, df in neg_dfs.items():
                neg_pairs.append((f, t))
                neg_est += df

    # fan-out pruned per field, unioned: a segment serving ANY queried
    # field's terms gets tasks
    seg_dirs: dict[str, str] = {}
    for f in fields:
        terms_f = sorted({t for (ff, t) in dfs if ff == f})
        if not terms_f:
            continue
        for d in _candidate_dict_dirs(m, index_dir, terms_f, f):
            seg_dirs[os.path.basename(d)] = d
    work = [(sid, sb) for sid in sorted(seg_dirs) for sb in range(m.n_sb)]
    if not work:
        return results

    scorer = _make_multimatch_bucket_scorer(
        index_dir, live, idfs, avgdls, m.k1, m.b,
        np.array(sorted(m.tombstones), dtype=np.int64), list(fields),
        combine, predicate, m.n_shards, m.n_sb, sorted(set(neg_pairs)),
    )
    est = (
        sum(
            dfs[(f, t)]
            for pf, _k in live.values()
            for f, ts in pf.items()
            for t in ts
        )
        + neg_est
    )
    pdf = _execute_buckets(spark, work, scorer, RESULT_SCHEMA, est, execution)
    return _merge_topk(pdf, {q: k for q, (_, k) in live.items()}, results)


def multi_match_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    fields: list[str],
    k: int = 10,
    combine: str = "best_fields",
    predicate: list | None = None,
    must_not: list[str] | None = None,
) -> list[tuple[int, float]]:
    return multi_match_search_many(
        spark, index_dir, [(0, query, k)], fields, combine=combine,
        predicate=predicate, must_not=must_not,
    )[0]
