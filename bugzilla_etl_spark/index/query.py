"""BM25 top-k query execution over the segment format.

Lifecycle (SURVEY.md §3.4): tokenize the query with the SAME analyzer
used at build -> driver-side term-dictionary lookup (pyarrow read with
term predicate pushdown, no Spark job) -> the (segment, shard-bucket)
work items run on the route the cost model picks (``route``): in the
driver, or in ONE Spark fan-out job of at most ``cores`` Python tasks.
Either way the items of the request (or of the task) share one
``postings.ReadScope``: each segment's posting files are read once with
pyarrow (directory pruning on ``sb``; the ``term`` filter selects rows
but prunes no row groups: each sb file is one row group at these
sizes, and pyarrow 16.1 prunes little or nothing for ``isin``) and
split by sb. Each item decodes each query
term's lists once, scores every query with a bounded top-k heap
(block-max MaxScore, exact) -> k-way merge of per-bucket
top-ks on the driver -> (doc_id, score) top-k, rank-identical to the
exhaustive oracle.

Why Python-native reads: the Arrow JVM->Python block transfer was the
query path's scaling ceiling (JVM stages cap ~2x on this host while
pure-Python scales at the hardware limit); with pyarrow in the worker
the executor is Python end-to-end and Spark is pure task fan-out. On a
cluster the same pyarrow reads hit shared storage (S3/HDFS filesystems
are first-class in pyarrow.dataset).

The per-bucket heap + driver merge is the reference's Sorted Merge
pattern (bugzilla_to_json.ktr:1403-1429) applied to scored results:
buckets are doc-disjoint, so merging never deduplicates.

Scoring determinism: contributions accumulate in sorted term order in
every path (MaxScore, exhaustive numpy, pure-Python oracle), so scores are
bit-identical across paths and across parallelism levels.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..codec import u64_to_doc_id
from ..oracle import idf as _idf
from ..tokenize import py_analyze
from .manifest import IndexManifest
from .postings import (
    ReadScope,
    TermPostings,
    _candidate_dict_dirs,
    decode_lists,
    exclusion,
    read_allowed,
    read_docs,
    read_field,
    scan_dict,
    top_terms,
)
from .predicate import validate_filter

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)

#: Route cost model (see ``route``): every ``_execute_buckets`` request
#: runs where it is predicted cheaper. The driver-local route runs the
#: bucket scorers in the driver; it costs a floor per (segment, sb)
#: work item plus a cost per unit of the plan-time estimate. The Spark
#: fan-out packs the work items into at most ``cores`` Python tasks
#: (``bucket_tasks_df``); the model, fitted when it ran one task per
#: item, still prices a floor per wave of ``cores`` items plus the same
#: scorer work spread over the cores, so it over-prices the fan-out
#: when there are more items than cores. The estimate is exact
#: dictionary data, and what it counts
#: sets its unit cost:
#:
#: - ``C_POST_MS``: the postings the request scores or the docs it
#:   scans (should-BM25 and OR multi_match sum their terms' dfs; the
#:   grouped executor prices a request of OR multi_match clauses only
#:   so, see ``boolquery._unit_cost``; match_all aggs and kNN count
#:   every document);
#: - ``C_CAND_MS``: a candidate generator bound, the rarest term or
#:   cheapest clause, whose candidates the scorer then verifies against
#:   the other terms' postings, positions or parents: the grouped
#:   executor's other gated requests (bool, and the BM25 AND/msm and
#:   phrase entries lowered onto it), nested, aggs with a query.
#:
#: ``tools/fit_gate.py`` fits C_ITEM_MS, C_POST_MS and WAVE_MS from
#: traced perfbench ``search`` runs; these are the median of four
#: (local[4], 4-vCPU VM): a ``rare`` request (est ~66) pays ~10 ms per
#: item, a single ``hot`` query (est ~8k) ~3 us per posting beyond
#: that, and 8 empty tasks take ~750 ms (2 waves). ``tools/route_probe.py``
#: times every request kind both ways on synthetic 100k-300k-doc
#: indexes (same box): candidate-bound requests cost 3-14 us per
#: candidate in the driver (phrase highest), and C_CAND_MS is the
#: smallest cost (9.2 us, rounded up) under which none of them runs in
#: the driver while the fan-out serves it faster. The scored/scanned
#: kinds measure 0.3-2.4 us per unit: a batch shares term reads across
#: its queries, match_all aggs and kNN scan docs cheaply, so
#: C_POST_MS overprices them, which errs toward the fan-out. At 4 cores
#: the 8-item cutover is ~330k postings (~97k candidates); at 32 cores
#: the 16-item one is ~80k (~23k), around the fixed 50k gate the model
#: replaces.
C_ITEM_MS = 10.4
C_POST_MS = 0.0028
C_CAND_MS = 0.0095
WAVE_MS = 376.0
#: The fixed gate of earlier releases (local iff the estimate and the
#: work-item count are both at or below these). It no longer routes;
#: perfbench's probes still report how often it would have fanned out.
LOCAL_MAX_POSTINGS = 50000
LOCAL_MAX_BUCKETS = 1024

_PD_DTYPE = {"integer": "int32", "long": "int64", "double": "float64",
             "string": "object", "binary": "object"}


#: schema json -> its typed empty frame, built once per process
_EMPTY: dict[str, pd.DataFrame] = {}


def _empty_like(schema: T.StructType) -> pd.DataFrame:
    """A copy of the typed empty result of a bucket scorer (the frame is
    built once per schema); scorers ``.copy()`` it per empty bucket."""
    key = schema.json()
    frame = _EMPTY.get(key)
    if frame is None:
        frame = _EMPTY[key] = pd.DataFrame(
            {f.name: pd.Series(dtype=_PD_DTYPE[f.dataType.typeName()]) for f in schema.fields}
        )
    return frame.copy()


def _merge_topk(
    pdf: pd.DataFrame, ks: dict[int, int], results: dict
) -> dict[int, list[tuple[int, float]]]:
    """Driver-side global k-way merge of per-bucket top-ks (buckets are
    doc-disjoint, so nothing deduplicates): one vectorized sort by
    (query_id, score desc, doc_id asc), then the first ``ks[qid]`` rows
    per query land in ``results``. The merge is the only serial stage
    of a batch, so it stays O(rows log rows) vectorized — never a
    Python loop over rows."""
    if len(pdf):
        qid = pdf["query_id"].to_numpy()
        doc = pdf["doc_id"].to_numpy()
        score = pdf["score"].to_numpy()
        order = np.lexsort((doc, -score, qid))
        qid, doc, score = qid[order], doc[order], score[order]
        starts = np.flatnonzero(np.r_[True, qid[1:] != qid[:-1]])
        for lo, hi in zip(starts.tolist(), [*starts[1:].tolist(), len(qid)]):
            q = int(qid[lo])
            hi = min(hi, lo + ks[q])
            results[q] = list(zip(doc[lo:hi].tolist(), score[lo:hi].tolist()))
    return results


def route(
    n_work: int,
    est_postings: int,
    cores: int,
    c_post_ms: float | None = None,
    c_item_ms: float | None = None,
    wave_ms: float | None = None,
) -> tuple[str, float, float]:
    """The route of one request: ("local" | "spark", predicted local ms,
    predicted Spark ms) for ``n_work`` (segment, sb) work items and a
    plan-time estimate of ``est_postings`` costing ``c_post_ms`` each
    (C_POST_MS or C_CAND_MS, by what the estimate counts). Local iff its
    predicted cost is at most the fan-out's. ``cores`` is the session's
    default parallelism. Unset constants are the module's fitted values,
    read at call time; ``tools/fit_gate.py`` passes its own fit."""
    c_post_ms = C_POST_MS if c_post_ms is None else c_post_ms
    c_item_ms = C_ITEM_MS if c_item_ms is None else c_item_ms
    wave_ms = WAVE_MS if wave_ms is None else wave_ms
    local_ms = n_work * c_item_ms + est_postings * c_post_ms
    spark_ms = -(-n_work // cores) * wave_ms + local_ms / cores
    return ("local" if local_ms <= spark_ms else "spark"), local_ms, spark_ms


def _cores(spark: SparkSession | None = None) -> int:
    """The route model's one machine input: the default parallelism of
    ``spark``, else of the process's running SparkContext (the explain
    functions take no session; the context, unlike the active session,
    is not per thread), else the CPU count a default session would get."""
    sc = spark.sparkContext if spark is not None else SparkContext._active_spark_context  # noqa: SLF001
    return sc.defaultParallelism if sc is not None else (os.cpu_count() or 1)


def _execute_buckets(
    spark: SparkSession,
    work: list[tuple[str, int]],
    scorer,
    schema: T.StructType,
    est_postings: int,
    execution: str = "auto",
    c_post_ms: float | None = None,
) -> pd.DataFrame:
    """Run one bucket scorer over every (segment, sb) work item.

    ``execution``: "spark" = mapInPandas fan-out (the cluster path),
    "local" = in-driver execution of the SAME scorer callables
    (bit-identical results — the scorer neither knows nor cares which
    harness calls it), "auto" = the route the cost model predicts
    cheaper for ``len(work)`` items and ``est_postings`` at
    ``c_post_ms`` each (unset: C_POST_MS; C_CAND_MS when the estimate
    is a candidate generator bound) at the session's default
    parallelism (see ``route``).

    Both routes run the items of one request (local, serially in the
    calling thread) or one task (Spark) under one ``postings.ReadScope``,
    so each segment's postings and docs are scanned once for all of
    those items.
    """
    if execution not in ("auto", "spark", "local"):
        raise ValueError(f"execution must be auto|spark|local: {execution!r}")
    if execution == "auto":
        execution = route(len(work), est_postings, _cores(spark), c_post_ms=c_post_ms)[0]
    if execution == "local":
        items = [(w[0], int(w[1])) for w in work]
        scope = ReadScope(items)
        parts = [p for p in (scope.run(scorer, w, None) for w in items) if len(p)]
        if parts:
            return pd.concat(parts, ignore_index=True)
        return _empty_like(schema)
    return bucket_tasks_df(spark, work, scorer, schema).toPandas()


def bucket_tasks_df(spark: SparkSession, work: list[tuple[str, int]], scorer, schema):
    """Lazy DataFrame running ``scorer`` over every (segment, sb) work
    item in at most ``cores`` (default parallelism) Python tasks.

    Single-stage shape: ``spark.range`` over the item indexes +
    ``mapInPandas`` — no work-row ``createDataFrame`` (driver->JVM
    conversion alone measured ~0.18 s) and no groupBy exchange, which
    together halve the per-batch job floor vs groupBy+applyInPandas
    (measured 0.25 s vs 0.50 s for a no-op over 16 buckets at
    local[32]). The items are packed into ``min(len(work), cores)``
    partitions of contiguous index ranges, and each task runs its items
    one after another with the same scorer, so rows (and their order)
    are those of one task per item; the task's items share one
    ``postings.ReadScope`` (one scan per segment for all of them). A
    Python task holds its core for ~250 ms before any work (local[4],
    4 vCPU): 16 items in 4 tasks measured 492 ms for a 32-query batch
    against 1,217 ms in 16 tasks.
    Parallelism is pinned by numPartitions — AQE coalescing never sees
    it (there is no exchange). Composable: callers may attach further
    aggregations before collecting (the nested spark-merge paths do)."""
    items = [(w[0], int(w[1])) for w in work]

    def gen(batches):
        mine = [items[i] for pdf in batches for i in pdf["id"].tolist()]
        scope = ReadScope(mine)
        for item in mine:
            out = scope.run(scorer, item, None)
            if len(out):
                yield out

    n_tasks = min(len(items), _cores(spark))
    return spark.range(0, len(items), 1, numPartitions=n_tasks).mapInPandas(
        gen, schema=schema
    )


# ----------------------------------------------------- dictionary lookup
def _lookup_terms(
    m: IndexManifest, index_dir: str, terms: list[str], fld: str = "content"
) -> dict[str, int]:
    """term -> df (within the queried field), summed across segments —
    one pushed-down dictionary read per bloom-candidate segment
    (postings.scan_dict), no Spark job for a handful of terms."""
    found, dfs = scan_dict(m, index_dir, fld, terms=terms)
    return dict(zip(found.tolist(), dfs.tolist()))


# ------------------------------------------------------ bucket executor
#: a term is "hot" in a bucket when its list exceeds this many postings;
#: hot lists are only block-decoded where candidates live (exact MaxScore)
HOT_POSTINGS = 4096


def _make_bucket_scorer(
    index_dir: str,
    queries: dict[int, tuple[list[str], int]],
    idfs: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    tombstones: np.ndarray,
    seg_bound_scale: dict[str, float] | None = None,
    fld: str = "content",
    predicate: list | None = None,
    n_shards: int = 0,
    n_sb: int = 0,
    neg_terms: list[str] | None = None,
):
    """One work item = (segment_id, sb): read -> lazily decode -> score
    all queries (vectorized exact MaxScore) -> per-query top-k rows.

    ``neg_terms``: ES ``bool.must_not`` text terms — docs containing ANY
    of them are excluded from every query's results. Resolved per bucket
    by decoding the negative terms' doc lists (df-bounded — a hot
    negative term costs its list, exactly as in ES) and merging them
    into the tombstone exclusion set; like ES's filter context, the
    exclusion does NOT perturb the positive terms' statistics.

    ``seg_bound_scale``: per-segment factor applied to stored block
    max_impact bounds. Bounds are baked with the segment's BUILD-time
    avgdl; if the manifest avgdl has since risen (incremental updates /
    deletes), true impacts exceed stored bounds by at most
    avgdl_now/avgdl_build (the dl→∞, tf→min limit of the impact ratio),
    so scaling by max(1, that ratio) keeps every pruning path sound.
    Exact scores are unaffected (recomputed from tf/dl at decode).

    ``predicate``: docs-dimension conjunction (see index.predicate)
    resolved INSIDE the task against this bucket's slice of the docs
    parquet (filter pushed to row-group statistics, one column read)
    into a sorted allowed-doc set applied before every top-k heap —
    filtered search stays exact with zero driver-side work."""
    neg = sorted(set(neg_terms or ()))
    live_terms = sorted(set(idfs) | set(neg))
    # built once: most buckets of a selective query return it
    empty = _empty_like(RESULT_SCHEMA)
    # read here, in the driver, so both routes apply the same threshold
    hot_postings = HOT_POSTINGS

    def score(key, _pdf):  # (key, pd.DataFrame) -> pd.DataFrame
        seg_id, sb = key[0], int(key[1])
        allowed = read_allowed(index_dir, seg_id, predicate, (sb, n_shards, n_sb))
        if allowed is not None and not len(allowed):
            return empty.copy()
        lists = read_field(
            index_dir, seg_id, sb, fld, live_terms, idfs, avgdl, k1, b,
            bound_scale=(seg_bound_scale or {}).get(seg_id, 1.0),
        )
        if not lists:
            return empty.copy()
        excl = exclusion(lists, neg, tombstones)
        pos_lists = {t: tl for t, tl in lists.items() if t not in neg}
        out_q, out_d, out_s = [], [], []
        for qid, (terms, k) in queries.items():
            present = sorted(pos_lists.keys() & set(terms))
            if not present:
                continue
            for d, s in _score_maxscore(present, pos_lists, excl, k, allowed, hot_postings):
                out_q.append(qid)
                out_d.append(d)
                out_s.append(s)
        return pd.DataFrame(
            {"query_id": out_q, "doc_id": out_d, "score": out_s}
        )

    return score


def _allowed_mask(cand_u64: np.ndarray, allowed_u64: np.ndarray) -> np.ndarray:
    """Membership of candidates in the sorted allowed set (searchsorted
    probe — O(n log m), no hashing)."""
    if not len(cand_u64):
        return np.zeros(0, dtype=bool)
    pos = np.clip(np.searchsorted(allowed_u64, cand_u64), 0, len(allowed_u64) - 1)
    return allowed_u64[pos] == cand_u64


def _score_maxscore(
    terms: list[str],
    lists: dict[str, TermPostings],
    tombstones: np.ndarray,
    k: int,
    allowed: np.ndarray | None = None,
    hot_postings: int | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k with hot-list block skipping (vectorized MaxScore).

    Selective terms (small lists) are fully decoded and their doc union
    is the candidate set; hot terms contribute only at candidate docs
    (per-block lazy decode, cached across the query batch). If the hot
    terms' combined upper bound could still reach the kth candidate
    score, or candidates are fewer than k, or tombstones intersect the
    candidates, fall back to full exhaustive scoring — the result is
    ALWAYS exact; pruning is pure optimization.

    ``allowed`` (sorted u64, filtered search): docs outside the set are
    dropped from every candidate stream BEFORE the heap, so the top-k is
    exact over the filtered doc space — never over-fetch-then-filter.
    Block-skipping stays sound: block upper bounds bound any doc in the
    block, allowed or not, so stopping when bound < theta(allowed
    candidates) can never drop an allowed doc.

    ``hot_postings``: the hot-list threshold (None = ``HOT_POSTINGS``)."""
    if hot_postings is None:
        hot_postings = HOT_POSTINGS
    sel = [t for t in terms if lists[t].n_postings <= hot_postings]
    hot = [t for t in terms if lists[t].n_postings > hot_postings]
    if len(terms) == 1 and hot and not tombstones.size and allowed is None:
        return _score_single_hot(lists[terms[0]], k)
    if hot and not sel:
        # ALL terms hot ("return int"): impact-ordered multi-term scorer
        return _score_multi_hot(terms, lists, tombstones, k, allowed)
    if sel and hot:
        cand = np.unique(
            np.concatenate([d for d, _ in decode_lists([lists[t] for t in sel])])
        )
        if allowed is not None:
            cand = cand[_allowed_mask(cand, allowed)]
        acc = np.zeros(len(cand), dtype=np.float64)
        for t in terms:  # sorted order -> deterministic, oracle-identical sums
            acc += lists[t].imp_at(cand)[1]
        theta = (
            float(-np.partition(-acc, k - 1)[k - 1])
            if len(cand) >= k
            else -np.inf
        )
        # clamp at 0: negative-idf terms (df > live N after deletes)
        # bound docs that CONTAIN them; absent docs contribute 0
        hot_ub = sum(max(0.0, lists[t].ub) for t in hot)
        if hot_ub < theta:
            docs_i64 = u64_to_doc_id(cand)
            if tombstones.size and np.isin(docs_i64, tombstones).any():
                # tombstoned candidates could re-open the top-k for
                # hot-only docs; be conservative
                return _score_full(terms, lists, tombstones, k, allowed)
            kk = min(k, len(cand))
            cidx = np.flatnonzero(-acc <= -theta)
            order = np.lexsort((docs_i64[cidx], -acc[cidx]))[:kk]
            pick = cidx[order]
            return list(zip(docs_i64[pick].tolist(), acc[pick].tolist()))
        # selective candidates couldn't rule the hot terms out: the
        # multi-hot scorer still skips low-impact hot blocks
        return _score_multi_hot(terms, lists, tombstones, k, allowed)
    return _score_full(terms, lists, tombstones, k, allowed)


def _score_multi_hot(
    terms: list[str],
    lists: dict[str, TermPostings],
    tombstones: np.ndarray,
    k: int,
    allowed: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Exact multi-term top-k with impact-ordered early termination —
    the generalization of _score_single_hot to >= 2 (hot) terms.

    Blocks of ALL terms are processed in globally descending
    idf*block_max order (which is also per-term descending). Docs seen
    in any processed block become candidates and get their EXACT score
    (contributions from every term, lazily decoding only blocks that
    contain candidates). A doc never seen is bounded by
    sum_t (next unprocessed block bound of t) — per-term descending
    order makes that the term's remaining maximum. Once that bound
    falls strictly below the kth candidate score, no unseen doc can
    enter the top-k and iteration stops; remaining blocks are never
    decoded.

    Exactness: candidate scores are exact (same sorted-term
    accumulation as the exhaustive path); the unseen-doc bound is
    summed left-to-right in the same sorted term order, so rounding
    monotonicity gives bound >= score bit-wise; the stop test is
    strict, so exact ties at theta are always materialized and the
    (score desc, doc_id asc) tie-break matches the oracle."""
    entries: list[tuple[float, str, tuple[int, int], int]] = []
    per_term_bounds: dict[str, list[float]] = {}
    for t in terms:
        subs = lists[t].subs
        tb = []
        for skey in sorted(subs):
            tl = subs[skey]
            for i in range(len(tl.firsts)):
                b = float(tl.idf * tl.bmaxs[i])
                entries.append((b, t, skey, i))
                tb.append(b)
        tb.sort(reverse=True)
        per_term_bounds[t] = tb
    entries.sort(key=lambda e: (-e[0], e[1], e[2], e[3]))

    n_proc = dict.fromkeys(terms, 0)
    seen = np.empty(0, dtype=np.uint64)  # sorted union of processed docs
    cand_docs: list[np.ndarray] = []     # non-tombstoned candidates
    cand_scores: list[np.ndarray] = []
    n_cand = 0
    theta = -np.inf
    pos = 0
    CHUNK = 16
    while pos < len(entries):
        if n_cand >= k:
            rem = 0.0
            for t in terms:  # sorted term order == score accumulation order
                pb = per_term_bounds[t]
                np_t = n_proc[t]
                # clamped: an unseen doc absent from a negative-idf term
                # scores 0 from it, above that term's (negative) bound
                b_t = pb[np_t] if np_t < len(pb) else 0.0
                rem += b_t if b_t > 0.0 else 0.0
            if rem < theta:
                break
        chunk = entries[pos : pos + CHUNK]
        by_term: dict[str, list] = {}
        for _, t, skey, i in chunk:
            by_term.setdefault(t, []).append((skey, i))
        for t, keys in by_term.items():  # one batch decode per term
            lists[t].decode_blocks(keys)
        new_parts = []
        for bound, t, skey, i in chunk:
            d = lists[t].subs[skey].decode(i)[0]
            new_parts.append(d)
            n_proc[t] += 1
        pos += CHUNK
        nd = np.unique(np.concatenate(new_parts))
        if seen.size:
            at = np.searchsorted(seen, nd)
            at = np.clip(at, 0, len(seen) - 1)
            nd = nd[seen[at] != nd]
        if nd.size:
            # linear sorted-merge append (nd is sorted and disjoint from
            # seen): np.insert at searchsorted positions is one O(n+m)
            # pass, where the old per-chunk union1d re-sorted the whole
            # union — quadratic-ish across chunks for many-hot-term
            # queries (ADVICE r3)
            seen = np.insert(seen, np.searchsorted(seen, nd), nd)
            if tombstones.size:
                nd = nd[~np.isin(u64_to_doc_id(nd), tombstones)]
            if allowed is not None and nd.size:
                # filtered search: disallowed docs never become
                # candidates; the unseen-doc bound covers a superset of
                # the allowed unseen docs, so early stop stays sound
                nd = nd[_allowed_mask(nd, allowed)]
        if nd.size:
            acc = np.zeros(len(nd), dtype=np.float64)
            for t in terms:  # sorted term order -> oracle-identical sums
                acc += lists[t].imp_at(nd)[1]
            cand_docs.append(nd)
            cand_scores.append(acc)
            n_cand += len(nd)
            if n_cand >= k:
                allsc = np.concatenate(cand_scores)
                theta = float(-np.partition(-allsc, k - 1)[k - 1])
    if not cand_docs:
        return []
    docs_i64 = u64_to_doc_id(np.concatenate(cand_docs))
    acc = np.concatenate(cand_scores)
    kk = min(k, len(acc))
    kth = np.partition(-acc, kk - 1)[kk - 1]
    cidx = np.flatnonzero(-acc <= kth)
    order = np.lexsort((docs_i64[cidx], -acc[cidx]))[:kk]
    pick = cidx[order]
    return list(zip(docs_i64[pick].tolist(), acc[pick].tolist()))


def _score_single_hot(tp: TermPostings, k: int) -> list[tuple[int, float]]:
    """Exact single-term top-k with impact-ordered early termination:
    blocks (across salt sub-lists) are processed in descending
    block-max-impact order; once the kth best score can no longer be
    beaten by any unprocessed block (strict bound, ties processed),
    the remaining blocks are never decoded."""
    subs = tp.subs
    entries = [
        (float(subs[s].idf * subs[s].bmaxs[i]), s, i)
        for s in subs
        for i in range(len(subs[s].firsts))
    ]
    entries.sort(key=lambda e: -e[0])
    docs_parts: list[np.ndarray] = []
    imp_parts: list[np.ndarray] = []
    theta = -np.inf
    n_seen = 0
    pos = 0
    CHUNK = 8
    while pos < len(entries):
        ub_next = entries[pos][0]
        if n_seen >= k and ub_next < theta:
            break  # strict: equal-bound blocks still processed (ties)
        # the chunk's blocks up to the first one the stop test below
        # rejects: block sizes are stored, so it is found before decoding
        take, n_take = [], n_seen
        for ub, s, i in entries[pos : pos + CHUNK]:
            if n_take >= k and ub < theta:
                break
            take.append((s, i))
            n_take += int(subs[s].ns[i])
        tp.decode_blocks(take)
        for s, i in take:
            d, imp, _ = subs[s].decode(i)
            docs_parts.append(d)
            imp_parts.append(imp)
            n_seen += len(d)
        pos += CHUNK
        if n_seen >= k:
            allimp = np.concatenate(imp_parts)
            theta = float(np.partition(-allimp, k - 1)[k - 1] * -1)
    if not docs_parts:
        return []
    docs = u64_to_doc_id(np.concatenate(docs_parts))
    imps = np.concatenate(imp_parts)
    kk = min(k, len(imps))
    kth = np.partition(-imps, kk - 1)[kk - 1]
    cand = np.flatnonzero(-imps <= kth)
    order = np.lexsort((docs[cand], -imps[cand]))[:kk]
    pick = cand[order]
    return list(zip(docs[pick].tolist(), imps[pick].tolist()))


def _score_full(
    terms: list[str],
    lists: dict[str, TermPostings],
    tombstones: np.ndarray,
    k: int,
    allowed: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    decoded = dict(zip(terms, decode_lists([lists[t] for t in terms])))
    return _score_decoded(terms, decoded, tombstones, k, allowed)


def _score_decoded(
    terms: list[str],
    decoded: dict[str, tuple[np.ndarray, np.ndarray]],
    tombstones: np.ndarray,
    k: int,
    allowed: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Vectorized exact scoring over pre-decoded lists: union the doc
    space, accumulate per-term contributions in sorted term order,
    top-k with (score desc, doc_id asc)."""
    per_term = [(t, decoded[t][0], decoded[t][1]) for t in terms]  # sorted
    all_docs = np.concatenate([d for _, d, _ in per_term])
    uniq, inv = np.unique(all_docs, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    off = 0
    for _, d, imp in per_term:  # sorted term order -> deterministic sums
        np.add.at(acc, inv[off : off + len(d)], imp)
        off += len(d)
    if allowed is not None:
        keep_a = _allowed_mask(uniq, allowed)
        uniq, acc = uniq[keep_a], acc[keep_a]
    docs_i64 = u64_to_doc_id(uniq)
    if tombstones.size:
        keep = ~np.isin(docs_i64, tombstones)
        docs_i64, acc = docs_i64[keep], acc[keep]
    if len(acc) == 0:
        return []
    kk = min(k, len(acc))
    # O(n) selection of candidates, widened to include boundary ties so
    # the (score desc, doc_id asc) tie-break stays exact
    if len(acc) > kk:
        kth = np.partition(-acc, kk - 1)[kk - 1]
        cand = np.flatnonzero(-acc <= kth)
    else:
        cand = np.arange(len(acc))
    order = np.lexsort((docs_i64[cand], -acc[cand]))[:kk]
    sel = cand[order]
    return list(zip(docs_i64[sel].tolist(), acc[sel].tolist()))


# -------------------------------------------------------------- fan-out
def search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str = "content",
    predicate: list | None = None,
    execution: str = "auto",
    must_not: list[str] | None = None,
    operator: str = "or",
    min_should_match: int | None = None,
    should: list[str] | None = None,
) -> dict[int, list[tuple[int, float]]]:
    """Batch top-k: [(query_id, text, k)] -> {query_id: [(doc_id, score)]}.

    ``should``: ES bool {must, should} score-boosting terms — only
    meaningful with a gating clause (operator="and" or
    min_should_match): matching is unchanged, but a surviving doc
    containing a should term adds its BM25 contribution (again, for a
    term that is also a query term: each ES clause scores on its own).

    ``operator``: ES match semantics — "or" (default): any query term
    matches, scored by the matching terms' BM25 sum; "and": EVERY term
    must occur in the doc (the ES ``match`` with ``operator: and``),
    scored by the same constituent sum (AND only shrinks the match
    set, never changes a surviving doc's score).

    ``min_should_match``: ES minimum_should_match (operator="or" only)
    — at least m of the query's terms must occur; surviving docs keep
    their should-semantics scores. m=1 is plain OR; m=len(terms) is
    AND; a query with fewer matchable terms than m returns nothing.

    ``must_not``: ES bool.must_not text terms (analyzed with the field's
    chain), applied to EVERY query in the batch: a doc containing any of
    them never appears in results; positive-term statistics are
    untouched (filter-context semantics, like ``predicate``).

    One Spark job: a (segment, sb) fan-out scored in Python workers;
    the driver k-way merges the per-bucket bounded heaps per query.
    With ``execution="auto"``, a batch whose predicted driver-local
    cost (work items and the plan-time df sum, see ``route``) is at most
    the fan-out's skips the fan-out and runs the same scorers serially
    in the driver (see _execute_buckets). Plain OR scores with
    block-max MaxScore; a gated batch (operator="and" or
    min_should_match) lowers to one match clause per query on the bool
    grouped executor (boolquery._grouped_search), bit-identical to the
    same ``Bool`` there, at its rarest-terms estimate (C_CAND_MS).

    ``field`` selects a field variant of a multi-field index (the
    reference's per-sub-field querying, bug_version.json:294-303): the
    query text is analyzed with THAT field's chain and scored against
    its postings/df/avgdl.

    ``predicate`` restricts scoring to docs matching a docs-dimension
    conjunction (see ``index.predicate``) — the reference's combined
    term-filter + fulltext query (ES filter context,
    bug_version.json:57-65,221-224). Applied per bucket BEFORE the
    top-k heap, so the k results are exact over the filtered doc space;
    BM25 statistics stay index-global, matching ES semantics. The
    MaxScore scorer filters its candidate streams — no over-fetch.
    """
    if operator not in ("or", "and"):
        raise ValueError(f"operator must be 'or' or 'and': {operator!r}")
    if min_should_match is not None:
        if operator == "and":
            raise ValueError(
                "min_should_match applies to operator='or' (AND already "
                "requires every term)"
            )
        if int(min_should_match) < 1:
            raise ValueError("min_should_match must be >= 1")
        # msm=1 normalizes to plain OR (pruned scorers) — EXCEPT when
        # should-boost terms ride on it: an explicitly-passed msm=1 is a
        # valid ES gating clause (ADVICE r5), and the boost contributions
        # only apply on the gated (grouped) executor, so keep msm=1 there
        if int(min_should_match) == 1 and not should:
            min_should_match = None  # plain OR: keep the pruned scorers
    if should and operator != "and" and min_should_match is None:
        raise ValueError(
            "should terms boost scores alongside a gating clause - use "
            "operator='and' or min_should_match (plain OR already scores "
            "every query term)"
        )
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    validate_filter(m, predicate)
    gated = operator == "and" or min_should_match is not None
    # the query is analyzed with the FIELD's chain (same-analyzer contract
    # as the reference ES mapping): a shingled field analyzes "hash table"
    # to [hash, table, hash_table] — phrase-ish matching for free
    chain = m.field_chain(field)
    # a query's text may be a pre-analyzed TERM LIST (internal callers:
    # prefix expansion — dict terms are post-analysis tokens and must
    # not round-trip the analyzer, which could re-split them)
    qterms = {
        int(qid): (
            sorted(set(text))
            if isinstance(text, (list, tuple))
            else sorted(set(py_analyze(text, chain))),
            int(k),
        )
        for qid, text, k in queries
    }
    # negative terms analyzed with the SAME chain; absent ones are no-ops
    neg_raw = sorted(
        {t for q in (must_not or ()) for t in py_analyze(q, chain)}
    )
    results: dict[int, list[tuple[int, float]]] = {qid: [] for qid in qterms}
    if gated:
        from .boolquery import _grouped_search

        boost = sorted({t for q in (should or ()) for t in py_analyze(q, chain)})
        specs = {
            qid: {
                "match": [(terms, len(terms) if operator == "and" else int(min_should_match))],
                "phrase": [], "neg": neg_raw, "boost": boost, "k": k, "after": None,
            }
            for qid, (terms, k) in qterms.items()
            if terms
        }
        # the estimate bounds the candidates: AND = the rarest term;
        # msm = the (n - m + 1) rarest terms' df sum (the generator
        # union); plus the must_not dfs. Should lists decode candidate
        # blocks only, so add nothing (the same Bool prices alike)
        ran = _grouped_search(
            spark, m, index_dir, specs, field, predicate, execution
        )
        if ran is not None:
            pdf, live = ran
            _merge_topk(pdf, {q: s["k"] for q, s in live.items()}, results)
        return results
    all_terms = sorted({t for terms, _ in qterms.values() for t in terms})
    dfs = _lookup_terms(m, index_dir, all_terms, field)
    if not dfs:
        return results
    neg_dfs = _lookup_terms(m, index_dir, neg_raw, field) if neg_raw else {}
    neg_eff = sorted(set(neg_raw) & set(neg_dfs))
    idfs = {t: _idf(m.n_docs, df) for t, df in dfs.items()}
    q_eff = {
        qid: ([t for t in terms if t in dfs], k)
        for qid, (terms, k) in qterms.items()
    }
    q_eff = {qid: v for qid, v in q_eff.items() if v[0]}
    if not q_eff:
        return results

    # fan-out pruned by the term blooms: a segment containing none of
    # the effective query terms gets no scoring tasks at all (flat cost
    # in segment count for selective queries)
    work = [
        (os.path.basename(d), sb)
        for d in _candidate_dict_dirs(m, index_dir, sorted(dfs), field)
        for sb in range(m.n_sb)
    ]
    # Segments lacking a stored build avgdl for this field (pre-upgrade
    # manifests) get an infinite bound scale: every block bound becomes
    # +inf, which DISABLES pruning for that segment (all blocks decoded,
    # scores exact) instead of silently assuming no drift — assuming 1.0
    # would resurface the avgdl-drift unsoundness for legacy segments
    # after incremental updates raise the global avgdl.
    cur_avgdl = m.field_avgdl(field)

    def _scale(s: dict) -> float:
        built = (s.get("field_avgdl") or {}).get(field)
        if built is None and field == "content":
            built = s.get("avgdl")
        return max(1.0, cur_avgdl / float(built)) if built else float("inf")

    seg_bound_scale = {s["id"]: _scale(s) for s in m.segments}
    scorer = _make_bucket_scorer(
        index_dir,
        q_eff,
        idfs,
        cur_avgdl,
        m.k1,
        m.b,
        np.array(sorted(m.tombstones), dtype=np.int64),
        seg_bound_scale,
        field,
        predicate,
        m.n_shards,
        m.n_sb,
        neg_eff,
    )
    # should-semantics BM25 scores EVERY posting of every query term:
    # the batch's work is the per-query df sum
    est = sum(dfs[t] for terms, _ in q_eff.values() for t in terms)
    est += sum(neg_dfs[t] for t in neg_eff)
    pdf = _execute_buckets(spark, work, scorer, RESULT_SCHEMA, est, execution)
    return _merge_topk(pdf, {q: k for q, (_, k) in qterms.items()}, results)


def _wildcard_regex(pattern: str):
    """ES wildcard -> compiled regex: ``*`` = any run, ``?`` = any one
    char, everything else literal (ES supports no other metachars)."""
    import re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return re.compile("".join(out) + r"\Z")


def _expand_wildcard(
    m: IndexManifest,
    index_dir: str,
    pattern: str,
    fld: str,
    max_expansions: int,
) -> list[str]:
    """ES ``wildcard`` term expansion: the pattern's literal prefix
    (text before the first ``*``/``?``) prunes the dictionary range
    scan exactly like a prefix query, survivors are regex-verified
    vectorized, and the winners are the ``max_expansions`` highest-df
    terms (Lucene top-terms multi-term rewrite, ties term asc). A
    leading-wildcard pattern scans the full dictionary — the same
    documented cost as ES's leading-wildcard queries (and fuzzy
    prefix_length=0)."""
    lead = min(
        (pattern.index(c) for c in "*?" if c in pattern), default=len(pattern)
    )
    prefix = pattern[:lead]
    if lead == len(pattern):
        # no metachar: degenerate to an exact term lookup
        dfs = _lookup_terms(m, index_dir, [pattern], fld)
        return [pattern] if pattern in dfs else []
    rx = _wildcard_regex(pattern)
    # length lower bound: every literal char must appear
    min_len = sum(1 for c in pattern if c != "*")
    return _expand_matching(m, index_dir, prefix, rx, min_len, fld,
                            max_expansions)


def _expand_matching(
    m: IndexManifest,
    index_dir: str,
    prefix: str,
    rx,
    min_len: int,
    fld: str,
    max_expansions: int,
) -> list[str]:
    """Shared multi-term expansion: a literal-prefix dictionary range
    scan (parquet statistics; full dictionary when the prefix is
    empty), a vectorized length-band pre-filter, full-match regex
    verification, then the df-ranked top-terms cut."""
    terms, dfs = scan_dict(m, index_dir, fld, prefix=prefix)
    cand = pd.Series(terms, dtype=object)
    if min_len > 0:
        # vectorized pre-filter (length band) before the per-term regex
        cand = cand[cand.str.len() >= min_len]
    if not len(cand):
        return []
    cand = cand[cand.str.fullmatch(rx).to_numpy(dtype=bool)]
    keep = cand.index.to_numpy()
    return [t for t, _ in top_terms(terms[keep], dfs[keep], max_expansions)]


_REGEX_METACHARS = set(".^$*+?{}[]()|\\")


def _expand_regexp(
    m: IndexManifest,
    index_dir: str,
    pattern: str,
    fld: str,
    max_expansions: int,
) -> list[str]:
    """ES ``regexp`` term expansion: anchored full-match regex over the
    dictionary. The pattern's leading literal run (chars before the
    first regex metacharacter) prunes the range scan exactly like
    prefix/wildcard; a pattern starting with a metacharacter scans the
    full dictionary (ES's documented leading-wildcard cost)."""
    import re

    lead = 0
    while lead < len(pattern) and pattern[lead] not in _REGEX_METACHARS:
        lead += 1
    # a trailing quantifier binds the PREVIOUS char: back off one so
    # e.g. "tables?" keeps prefix "table", not "tables"
    if lead < len(pattern) and pattern[lead] in "*?+{" and lead > 0:
        lead -= 1
    # a TOP-LEVEL alternation makes the leading literal optional
    # ("ret.rn|int" must also match "int"): any depth-0 '|' outside a
    # character class voids the prefix — full-dictionary scan
    depth, in_class, esc = 0, False, False
    for ch in pattern:
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
        elif in_class:
            in_class = ch != "]"
        elif ch == "[":
            in_class = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif ch == "|" and depth == 0:
            lead = 0
            break
    try:
        rx = re.compile(pattern)
    except re.error as e:
        raise ValueError(f"bad regexp pattern {pattern!r}: {e}") from None
    return _expand_matching(
        m, index_dir, pattern[:lead], rx, 0, fld, max_expansions
    )


def _levenshtein(a: str, b: str, cap: int) -> int:
    """Standard Levenshtein (insert/delete/substitute; a transposition
    counts 2 — matches DuckDB's levenshtein()) with an early-out band:
    returns cap+1 as soon as the distance provably exceeds ``cap``."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        best = cur[0]
        for j, cb in enumerate(b, 1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)
            )
            best = min(best, cur[j])
        if best > cap:
            return cap + 1
        prev = cur
    return prev[-1]


def _fuzzy_scan(
    m: IndexManifest,
    index_dir: str,
    term: str,
    fld: str,
    max_edits: int,
    prefix_length: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Dictionary range scan + banded DP -> (candidates, dfs, dists)
    for every unique dictionary term within ``max_edits`` of ``term``
    (sharing its first ``prefix_length`` chars). The scan/band/DP
    discipline of _expand_fuzzy, returning per-candidate distances so
    the term suggester can rank by (distance, df) while fuzzy QUERY
    expansion keeps its df-only ranking."""
    pre = term[:prefix_length]
    cands, dfs = scan_dict(m, index_dir, fld, prefix=pre)
    # vectorized length band: |len(cand) - len(term)| <= max_edits
    lens = pd.Series(cands, dtype=object).str.len().to_numpy(dtype=np.int64)
    band = np.abs(lens - len(term)) <= max_edits
    cands, dfs = cands[band], dfs[band]
    # DP only on unique band survivors; the shared prefix adds 0 edits
    suffix = term[len(pre):]
    dists = np.fromiter(
        (
            _levenshtein(str(c)[len(pre):], suffix, max_edits)
            for c in cands
        ),
        dtype=np.int64,
        count=len(cands),
    )
    keep = dists <= max_edits
    return cands[keep], dfs[keep], dists[keep]


def _expand_fuzzy(
    m: IndexManifest,
    index_dir: str,
    term: str,
    fld: str,
    max_edits: int,
    prefix_length: int,
    max_expansions: int,
) -> list[str]:
    """Edit-distance term expansion with the ES ``prefix_length``
    discipline: candidates must share the first ``prefix_length``
    characters, so the dictionary read stays a RANGE scan on the
    term-sorted dict files (parquet-stat pushdown) instead of a full
    vocabulary sweep; a length band (±max_edits) prunes before the DP.
    Ranked by highest df (ties term asc) — the same top-terms rewrite
    as prefix queries. ``prefix_length=0`` scans the field's whole
    dictionary (documented cost; Lucene pays an automaton instead).

    Vectorized (VERDICT r5 #7): a LENGTH BAND (+-max_edits — candidates
    outside it cannot be within max_edits) prunes the scanned terms
    before any Python loop; the surviving unique candidates alone run
    the banded DP, with the shared ``prefix_length`` characters
    stripped first (equal prefixes contribute zero edits)."""
    cands, dfs, _dists = _fuzzy_scan(
        m, index_dir, term, fld, max_edits, prefix_length
    )
    return [t for t, _ in top_terms(cands, dfs, max_expansions)]


def fuzzy_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str = "content",
    max_edits: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
    predicate: list | None = None,
    execution: str = "auto",
    must_not: list[str] | None = None,
) -> dict[int, list[tuple[int, float]]]:
    """ES ``match`` with ``fuzziness``: every analyzed query term
    expands into its edit-distance-``max_edits`` dictionary neighbors
    (per-term cap ``max_expansions``, ES ``prefix_length`` pruning) and
    the query scores as the should-semantics BM25 sum over the UNION of
    expansions (rewrite: scoring_boolean, consistent with
    prefix_search)."""
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    chain = m.field_chain(field)
    expanded: list[tuple[int, object, int]] = []
    results: dict[int, list[tuple[int, float]]] = {}
    for qid, text, k in queries:
        results[int(qid)] = []
        terms: list[str] = []
        for t in sorted(set(py_analyze(text, chain))):
            terms.extend(
                _expand_fuzzy(
                    m, index_dir, t, field, max_edits, prefix_length,
                    max_expansions,
                )
            )
        terms = sorted(set(terms))
        if terms:
            expanded.append((int(qid), terms, int(k)))
    if not expanded:
        return results
    results.update(
        search_many(
            spark, index_dir, expanded, field=field, predicate=predicate,
            execution=execution, must_not=must_not,
        )
    )
    return results


def fuzzy_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    field: str = "content",
    max_edits: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
    predicate: list | None = None,
) -> list[tuple[int, float]]:
    return fuzzy_search_many(
        spark, index_dir, [(0, query, k)], field=field, max_edits=max_edits,
        prefix_length=prefix_length, max_expansions=max_expansions,
        predicate=predicate,
    )[0]


def prefix_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str = "content",
    max_expansions: int = 50,
    predicate: list | None = None,
    execution: str = "auto",
    must_not: list[str] | None = None,
) -> dict[int, list[tuple[int, float]]]:
    """ES ``prefix`` query over the analyzed field: [(qid, prefix, k)]
    -> top-k. Each prefix expands via a dictionary range scan into at
    most ``max_expansions`` concrete terms (highest-df first — the
    Lucene top-terms rewrite) and scores as their should-semantics BM25
    sum (the ``rewrite: scoring_boolean`` behavior). Composes with
    predicate / must_not / the cost-based execution."""
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    expanded: list[tuple[int, object, int]] = []
    results: dict[int, list[tuple[int, float]]] = {}
    for qid, prefix, k in queries:
        results[int(qid)] = []
        terms = [
            t for t, _ in top_terms(
                *scan_dict(m, index_dir, field, prefix=str(prefix)),
                max_expansions,
            )
        ]
        if terms:
            expanded.append((int(qid), terms, int(k)))
    if not expanded:
        return results
    out = search_many(
        spark, index_dir, expanded, field=field, predicate=predicate,
        execution=execution, must_not=must_not,
    )
    results.update(out)
    return results


def prefix_search(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = 10,
    field: str = "content",
    max_expansions: int = 50,
    predicate: list | None = None,
    must_not: list[str] | None = None,
) -> list[tuple[int, float]]:
    return prefix_search_many(
        spark, index_dir, [(0, prefix, k)], field=field,
        max_expansions=max_expansions, predicate=predicate,
        must_not=must_not,
    )[0]


def wildcard_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str = "content",
    max_expansions: int = 50,
    predicate: list | None = None,
    execution: str = "auto",
    must_not: list[str] | None = None,
) -> dict[int, list[tuple[int, float]]]:
    """ES ``wildcard`` query over the analyzed field: [(qid, pattern,
    k)] -> top-k, where a pattern mixes literals with ``*`` (any run)
    and ``?`` (one char). The pattern's literal prefix prunes a
    dictionary range scan (parquet statistics), survivors are
    regex-verified, and at most ``max_expansions`` terms (highest df
    first — the Lucene top-terms rewrite) score as their
    should-semantics BM25 sum, exactly like prefix/fuzzy (rewrite:
    scoring_boolean). Composes with predicate / must_not / the
    cost-based execution."""
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    expanded: list[tuple[int, object, int]] = []
    results: dict[int, list[tuple[int, float]]] = {}
    for qid, pattern, k in queries:
        results[int(qid)] = []
        terms = _expand_wildcard(
            m, index_dir, str(pattern), field, max_expansions
        )
        if terms:
            expanded.append((int(qid), terms, int(k)))
    if not expanded:
        return results
    out = search_many(
        spark, index_dir, expanded, field=field, predicate=predicate,
        execution=execution, must_not=must_not,
    )
    results.update(out)
    return results


def wildcard_search(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = 10,
    field: str = "content",
    max_expansions: int = 50,
    predicate: list | None = None,
    must_not: list[str] | None = None,
) -> list[tuple[int, float]]:
    return wildcard_search_many(
        spark, index_dir, [(0, pattern, k)], field=field,
        max_expansions=max_expansions, predicate=predicate,
        must_not=must_not,
    )[0]


def regexp_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str = "content",
    max_expansions: int = 50,
    predicate: list | None = None,
    execution: str = "auto",
    must_not: list[str] | None = None,
) -> dict[int, list[tuple[int, float]]]:
    """ES ``regexp`` query over the analyzed field: [(qid, pattern, k)]
    -> top-k, the pattern an ANCHORED full-match regex. The leading
    literal run prunes the dictionary range scan, survivors verify with
    one vectorized fullmatch, and at most ``max_expansions`` terms
    (highest df first) score as their should-semantics BM25 sum —
    exactly the wildcard/prefix/fuzzy rewrite discipline."""
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    expanded: list[tuple[int, object, int]] = []
    results: dict[int, list[tuple[int, float]]] = {}
    for qid, pattern, k in queries:
        results[int(qid)] = []
        terms = _expand_regexp(
            m, index_dir, str(pattern), field, max_expansions
        )
        if terms:
            expanded.append((int(qid), terms, int(k)))
    if not expanded:
        return results
    out = search_many(
        spark, index_dir, expanded, field=field, predicate=predicate,
        execution=execution, must_not=must_not,
    )
    results.update(out)
    return results


def regexp_search(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = 10,
    field: str = "content",
    max_expansions: int = 50,
    predicate: list | None = None,
    must_not: list[str] | None = None,
) -> list[tuple[int, float]]:
    return regexp_search_many(
        spark, index_dir, [(0, pattern, k)], field=field,
        max_expansions=max_expansions, predicate=predicate,
        must_not=must_not,
    )[0]


def explain_search(
    index_dir: str,
    query: str,
    field: str = "content",
    operator: str = "or",
    min_should_match: int | None = None,
    must_not: list[str] | None = None,
) -> dict:
    """Query-plan introspection (no Spark job, no execution): how the
    engine WOULD run this query — analyzed terms and their dictionary
    dfs, the bloom-pruned candidate segment set, the (segment, sb)
    work-item count, the plan-time posting-volume estimate, the
    execution harness the cost model would pick (driver-local vs Spark
    fan-out) and its predicted cost of each (``local_ms``,
    ``spark_ms``; see ``route``). The observability face of the
    cost-based executor — ES _validate/explain and profile analog."""
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    chain = m.field_chain(field)
    terms = sorted(set(py_analyze(query, chain)))
    dfs = _lookup_terms(m, index_dir, terms, field)
    neg_raw = sorted({t for q in (must_not or ()) for t in py_analyze(q, chain)})
    neg_dfs = _lookup_terms(m, index_dir, neg_raw, field) if neg_raw else {}
    eff = [t for t in terms if t in dfs]
    cand_dirs = [
        os.path.basename(d)
        for d in _candidate_dict_dirs(m, index_dir, sorted(dfs), field)
    ] if dfs else []
    n_work = len(cand_dirs) * m.n_sb
    if operator == "and" or (min_should_match or 0) >= 2:
        if operator == "and":
            est = min((dfs[t] for t in eff), default=0) if len(eff) == len(terms) else 0
            path = "conjunctive"
        else:
            mv = int(min_should_match)
            est = (
                sum(sorted(dfs[t] for t in eff)[: len(eff) - mv + 1])
                if len(eff) >= mv
                else 0
            )
            path = f"msm({mv})"
    else:
        est = sum(dfs[t] for t in eff)
        path = "should"
    est += sum(neg_dfs.values())
    # the executor's unit cost: an AND/msm request runs the gated
    # (grouped) executor, whose estimate bounds its candidates; msm=1
    # is plain OR (search_many normalizes it away)
    c_post = C_CAND_MS if path != "should" else C_POST_MS
    execution, local_ms, spark_ms = route(n_work, est, _cores(), c_post_ms=c_post)
    return {
        "field": field,
        "analyzed_terms": terms,
        "term_dfs": {t: int(dfs.get(t, 0)) for t in terms},
        "must_not_dfs": {t: int(neg_dfs.get(t, 0)) for t in neg_raw},
        "scorer_path": path,
        "candidate_segments": cand_dirs,
        "pruned_segments": len(m.segments) - len(cand_dirs),
        "work_items": n_work,
        "estimated_postings": int(est),
        "execution": execution,
        "local_ms": round(local_ms, 1),
        "spark_ms": round(spark_ms, 1),
        "n_docs": m.n_docs,
        "tombstones": len(m.tombstones),
    }


def fetch_docs(
    index_dir: str,
    doc_ids: list[int],
    columns: list[str] | None = None,
) -> pd.DataFrame:
    """The ES ``_source`` fetch: resolve result doc ids to their stored
    docs-dimension rows (repo/path/commit/lang + any doc_attrs). Pure
    driver-side pyarrow — an ``isin`` pushdown per live segment (ids
    prune row groups via parquet statistics), no Spark job. Tombstoned
    ids are excluded (they are no longer part of the index's live set).
    Rows return in ``doc_ids`` order; unknown ids are simply absent."""
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    ids = [int(i) for i in doc_ids]
    if m.tombstones:
        dead = set(m.tombstones)
        ids = [i for i in ids if i not in dead]
    if not ids:
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
    parts = []
    for s in m.segments:
        t, _ = read_docs(index_dir, s["id"], columns, doc_ids=ids)
        if t.num_rows:
            parts.append(t.to_pandas())
    if not parts:
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
    out = pd.concat(parts, ignore_index=True)
    if "batch" in out.columns:
        out = out.drop(columns=["batch"])
    # segments are doc-disjoint, but an id can appear alongside its
    # tombstoned older copy mid-upsert — keep the NEWEST segment's row
    # (parts appended in manifest order; later segments are newer)
    out = out.drop_duplicates("doc_id", keep="last")
    order = {i: n for n, i in enumerate(ids)}
    out = out.sort_values("doc_id", key=lambda s: s.map(order), kind="stable")
    return out.reset_index(drop=True)


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    field: str = "content",
    predicate: list | None = None,
    must_not: list[str] | None = None,
    operator: str = "or",
    min_should_match: int | None = None,
    should: list[str] | None = None,
) -> list[tuple[int, float]]:
    return search_many(
        spark,
        index_dir,
        [(0, query, k)],
        field=field,
        predicate=predicate,
        must_not=must_not,
        operator=operator,
        min_should_match=min_should_match,
        should=should,
    )[0]


# ------------------------------------------------------- phrase queries
def _min_range_leq(shifted: list[np.ndarray], slop: int) -> bool:
    """Smallest range covering one element from each sorted list —
    match iff min over alignments of (max(s_i) - min(s_i)) <= slop.
    Classic k-pointer sweep, O(total positions * k) with tiny k."""
    k = len(shifted)
    ptr = [0] * k
    while True:
        vals = [shifted[i][ptr[i]] for i in range(k)]
        lo = min(vals)
        if max(vals) - lo <= slop:
            return True
        i_min = vals.index(lo)
        ptr[i_min] += 1
        if ptr[i_min] >= len(shifted[i_min]):
            return False


def _sloppy_freq_unordered(shifted: list[np.ndarray], slop: int) -> float:
    """Lucene-style sloppy frequency for one doc (unordered): the same
    k-pointer sweep as _min_range_leq but enumerated to exhaustion —
    every alignment whose shifted range fits the slop contributes
    ``1 / (1 + matchLength)`` with matchLength = the range (the slop it
    consumed; a transposition costs 2, so it weighs 1/3 vs an in-order
    adjacency's 1). Matches Lucene's SloppyPhraseScorer weight model
    (sloppyWeight = 1/(1+distance)) under this engine's minimal-window
    enumeration."""
    k = len(shifted)
    ptr = [0] * k
    freq = 0.0
    while True:
        vals = [shifted[i][ptr[i]] for i in range(k)]
        lo = min(vals)
        rng = max(vals) - lo
        if rng <= slop:
            freq += 1.0 / (1.0 + float(rng))
        i_min = vals.index(lo)
        ptr[i_min] += 1
        if ptr[i_min] >= len(shifted[i_min]):
            return freq


def _unordered_survivors(
    terms: dict, seq: list[str], cand: np.ndarray, slop: int,
    weighted: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Lucene/ES UNORDERED sloppy phrase (match_phrase with slop where
    terms may appear out of query order — a transposition costs 2):
    a doc matches iff an assignment of one position per term satisfies
    max(p_i - i) - min(p_i - i) <= slop, with i the term's query
    offset. 'b a' vs query 'a b': shifted positions +1/-1, range 2 —
    hence slop>=2 admits the transposition, matching Lucene's
    documented cost model.

    Candidates have already been intersected to docs containing every
    term; the per-candidate minimal-range sweep is a k-pointer merge
    over that doc's position lists (k = phrase length, tiny). Python
    iterates CANDIDATES here — acceptable because unordered slop is
    the rare edge-parity mode (the ordered path stays the vectorized
    default); repeated-term phrases would need distinct-position
    assignment (Lucene's repeats machinery) and are rejected.

    ``weighted=False``: ``ptf`` is 1.0 per matching doc (gate scoring —
    constituent-term BM25 sum). ``weighted=True`` (scoring=
    "sloppy_freq"): ``ptf`` is the Lucene-style sloppy frequency
    (_sloppy_freq_unordered) — the alignment sweep runs to exhaustion
    instead of short-circuiting on the first fit."""
    uniq = sorted(set(seq))
    if len(uniq) != len(seq):
        raise ValueError(
            "unordered slop does not support repeated-term phrases "
            "(distinct-position assignment; use ordered slop)"
        )
    bulk = {t: terms[t].positions_bulk(cand) for t in uniq}
    offs = {t: i for i, t in enumerate(seq)}
    # split each term's flat (ci, pos) arrays into per-candidate slices
    per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for t, (ci, pos, dl) in bulk.items():
        starts = np.searchsorted(ci, np.arange(len(cand)))
        ends = np.searchsorted(ci, np.arange(len(cand)), side="right")
        per_term[t] = (pos - offs[t], starts, ends)
    ci0, _pos0, dl0 = bulk[seq[0]]
    ptf = np.zeros(len(cand), dtype=np.float64)
    for c in range(len(cand)):
        lists = []
        ok = True
        for t in uniq:
            s, st, en = per_term[t]
            if en[c] <= st[c]:
                ok = False
                break
            lists.append(s[st[c] : en[c]])
        if not ok:
            continue
        if weighted:
            ptf[c] = _sloppy_freq_unordered(lists, slop)
        elif _min_range_leq(lists, slop):
            ptf[c] = 1.0
    matched = ptf > 0
    dl_cand = np.zeros(len(cand), dtype=np.float64)
    dl_cand[ci0] = dl0
    return np.flatnonzero(matched), ptf, dl_cand


def _phrase_survivors(
    terms: dict, seq: list[str], cand: np.ndarray, slop: int = 0,
    weighted: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized phrase verification (VERDICT r4 #2): ONE ragged gather
    of every candidate's positions per unique term, then per-term
    probes on composite int64 keys (ci << 32 | pos, sorted,
    searchsorted). Python never iterates candidates; repeated-term
    phrases work unchanged.

    ``slop=0`` (exact adjacency): a start position p survives when
    seq[i] has p+i for all i.

    ``slop>0`` (ORDERED proximity — documented semantics: terms must
    appear in query order, with at most ``slop`` total skipped tokens
    between the first and last): for each start, the chain greedily
    takes each next term's SMALLEST position strictly after the
    current one (optimal: minimizing each step minimizes the final
    position, hence total slack), and survives when
    (last - start - (len(seq)-1)) <= slop. The greedy step is one
    ``searchsorted(key+1)`` per term — same cost shape as exact.

    Returns (midx, ptf, dl_cand): indices into ``cand`` with >=1
    occurrence, per-candidate occurrence counts, per-candidate doc
    length (0 where the doc lacks seq[0]). Shared by the flat phrase
    scorer and the nested phrase mode."""
    uniq = sorted(set(seq))
    bulk = {t: terms[t].positions_bulk(cand) for t in uniq}
    keys = {t: (bk[0] << np.int64(32)) | bk[1] for t, bk in bulk.items()}
    ci0, pos0, dl0 = bulk[seq[0]]
    p_ci, p_pos = ci0, pos0
    if slop <= 0:
        for i, ti in enumerate(seq[1:], start=1):
            if not len(p_ci):
                break
            tgt = (p_ci << np.int64(32)) | (p_pos + i)
            kt = keys[ti]
            j = np.searchsorted(kt, tgt)
            okm = j < len(kt)
            okm[okm] = kt[j[okm]] == tgt[okm]
            p_ci, p_pos = p_ci[okm], p_pos[okm]
    else:
        start = pos0
        cur = pos0
        for ti in seq[1:]:
            if not len(p_ci):
                break
            # smallest position of ti strictly after cur, same candidate
            probe = ((p_ci << np.int64(32)) | cur) + 1
            kt = keys[ti]
            j = np.searchsorted(kt, probe)
            okm = j < len(kt)
            okm[okm] = (kt[j[okm]] >> np.int64(32)) == p_ci[okm]
            p_ci, start = p_ci[okm], start[okm]
            cur = kt[j[okm]] & np.int64((1 << 32) - 1)
        if len(p_ci):
            slack = cur - start - (len(seq) - 1)
            keep = slack <= slop
            p_ci, slack = p_ci[keep], slack[keep]
            if weighted and len(p_ci):
                # Lucene sloppy weight per surviving start's minimal
                # chain: 1/(1+slack); slack=0 chains weigh 1, so
                # weighted(slop=0) == the occurrence count exactly
                w = 1.0 / (1.0 + slack.astype(np.float64))
                ptf = np.zeros(len(cand), dtype=np.float64)
                np.add.at(ptf, p_ci, w)
                dl_cand = np.zeros(len(cand), dtype=np.float64)
                dl_cand[ci0] = dl0
                return np.flatnonzero(ptf > 0), ptf, dl_cand
    ptf = (
        np.bincount(p_ci, minlength=len(cand)).astype(np.float64)
        if len(p_ci)
        else np.zeros(len(cand), dtype=np.float64)
    )
    dl_cand = np.zeros(len(cand), dtype=np.float64)
    dl_cand[ci0] = dl0
    return np.flatnonzero(ptf > 0), ptf, dl_cand


#: phrase queries run against the primary field (positions are recorded
#: for it alone — build.py pos_fields)
DEFAULT_QUERY_FIELD = "content"


def phrase_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str = DEFAULT_QUERY_FIELD,
    scoring: str = "gate",
    predicate: list | None = None,
    execution: str = "auto",
    must_not: list[str] | None = None,
    slop: int = 0,
    ordered: bool = True,
) -> dict[int, list[tuple[int, float]]]:
    """Batch match_phrase: [(query_id, phrase_text, k)] ->
    {query_id: [(doc_id, score)]}. The phrase is analyzed with the
    primary field's chain KEEPING order and duplicates; a doc matches
    when the exact token sequence occurs (position-verified), and scores
    by the constituent terms' BM25 sum (``scoring="gate"``) or its
    occurrence count (``"phrase_freq"``). Each phrase lowers to one
    phrase clause on the bool grouped executor
    (boolquery._grouped_search), bit-identical to ``Bool(phrase=...)``
    there: candidates from the rarest term, the other terms probed on
    candidate blocks only, then positions; the same (segment, sb)
    fan-out + driver k-way merge as search_many. ``predicate`` restricts matches
    to docs satisfying a docs-dimension conjunction (same spec as
    search_many) — the ES bool query's filter context around a
    match_phrase (bug_version.json:57-65,221-224).

    ``ordered=False`` (with ``slop>0``) switches to Lucene's UNORDERED
    sloppy semantics: terms may appear out of query order, an
    assignment with shifted-position range <= slop matches, and a
    transposition costs 2 ('hash table' slop=2 matches 'table hash').
    Repeated-term phrases are rejected in unordered mode.

    ``scoring="sloppy_freq"``: Lucene's sloppy-phrase scoring — tf is
    the SUM of per-occurrence weights 1/(1+matchLength) (ordered: the
    slack of each start's minimal chain; unordered: the shifted range
    of each fitting alignment), pushed through the usual BM25 tf
    saturation with the phrase's summed idf. With slop=0 every weight
    is 1, so sloppy_freq == phrase_freq exactly."""
    if not ordered and scoring == "phrase_freq":
        raise ValueError(
            "unordered slop counts weighted matches, not plain "
            "occurrences — use scoring='sloppy_freq' (Lucene's model) "
            "or 'gate'"
        )
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    validate_filter(m, predicate)
    if field not in m.positions_fields():
        raise ValueError(
            f"field {field!r} was not built with positions=True; phrase "
            "queries need the positional payload (the shingled field "
            "approximates bigram phrases without it)"
        )
    if scoring not in ("gate", "phrase_freq", "sloppy_freq"):
        raise ValueError(f"unknown phrase scoring {scoring!r}")
    from .boolquery import _grouped_search

    chain = m.field_chain(field)
    neg_raw = sorted({t for q in (must_not or ()) for t in py_analyze(q, chain)})
    results: dict[int, list[tuple[int, float]]] = {int(q[0]): [] for q in queries}
    specs = {}
    for qid, text, k in queries:
        seq = py_analyze(text, chain)
        if seq:
            specs[int(qid)] = {
                "match": [], "phrase": [(seq, int(slop))], "neg": neg_raw,
                "boost": [], "scoring": scoring, "ordered": bool(ordered),
                "k": int(k), "after": None,
            }
    # the estimate is each phrase's rarest df: only that list decodes
    # fully, every other term decodes candidate blocks (+ the must_not
    # lists, decoded once)
    ran = _grouped_search(spark, m, index_dir, specs, field, predicate, execution)
    if ran is not None:
        pdf, live = ran
        _merge_topk(pdf, {q: s["k"] for q, s in live.items()}, results)
    return results


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    field: str = DEFAULT_QUERY_FIELD,
    scoring: str = "gate",
    predicate: list | None = None,
    must_not: list[str] | None = None,
    slop: int = 0,
    ordered: bool = True,
) -> list[tuple[int, float]]:
    return phrase_search_many(
        spark, index_dir, [(0, phrase, k)], field=field, scoring=scoring,
        predicate=predicate, must_not=must_not, slop=slop, ordered=ordered,
    )[0]


def match_phrase_prefix_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str = DEFAULT_QUERY_FIELD,
    max_expansions: int = 50,
    scoring: str = "gate",
    predicate: list | None = None,
    must_not: list[str] | None = None,
    slop: int = 0,
    execution: str = "auto",
) -> dict[int, list[tuple[int, float]]]:
    """ES ``match_phrase_prefix`` (phrase autocomplete): the text's
    LAST analyzed token is a prefix, dictionary-expanded to at most
    ``max_expansions`` terms (highest df first — the Lucene top-terms
    rewrite shared with prefix/wildcard), and a doc matches when the
    phrase completes with ANY expansion. Scored as the BEST matching
    completion's phrase score (max over expansions), so ranking is
    identical to running each completed phrase and keeping a doc's best.

    Execution is EXACT and one Spark job for the whole batch: every
    completion becomes a sub-phrase in a single ``phrase_search_many``
    call (the bucket fan-out already batches arbitrarily many phrase
    queries), then the driver max-merges per (query, doc). Per-subquery
    top-k bounds are sufficient for global top-k-by-max: if doc d's
    best completion e ranks it in the global top-k, every doc above d
    globally also scores above d's e-score in ITS best sub-query, so at
    most k-1 docs can outrank d inside sub-query e.

    Single-token texts degenerate to a pure prefix, executed the same
    way over ``search_many`` (each expansion a one-term sub-query,
    max-merged) — NOTE this is max-over-expansions scoring, not
    ``prefix_search``'s should-semantics sum. Shingle-chain fields
    raise: completing a shingled phrase would need cross-token shingle
    synthesis that neither the dictionary nor the text contains."""
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    chain = m.field_chain(field)
    if chain.endswith("_shingle"):
        raise ValueError(
            f"match_phrase_prefix on the {chain!r} chain is not "
            "supported (completions cannot synthesize cross-token "
            "shingles); query the plain field variant"
        )
    results: dict[int, list[tuple[int, float]]] = {}
    sub: list[tuple[int, object, int]] = []
    sub_meta: dict[int, int] = {}  # sub qid -> caller qid
    phrase_subs: list[tuple[int, str, int]] = []
    nxt = 0
    for qid, text, k in queries:
        results[int(qid)] = []
        seq = py_analyze(str(text), chain)
        if not seq:
            continue
        exps = top_terms(
            *scan_dict(m, index_dir, field, prefix=seq[-1]), max_expansions
        )
        for e, _ in exps:
            sub_meta[nxt] = int(qid)
            if len(seq) == 1:
                sub.append((nxt, [e], int(k)))
            else:
                phrase_subs.append((nxt, " ".join(seq[:-1] + [e]), int(k)))
            nxt += 1
    merged: dict[int, dict[int, float]] = {}
    outs: list[dict[int, list[tuple[int, float]]]] = []
    if phrase_subs:
        outs.append(
            phrase_search_many(
                spark, index_dir, phrase_subs, field=field, scoring=scoring,
                predicate=predicate, must_not=must_not, slop=slop,
                execution=execution,
            )
        )
    if sub:
        outs.append(
            search_many(
                spark, index_dir, sub, field=field, predicate=predicate,
                must_not=must_not, execution=execution,
            )
        )
    for out in outs:
        for sqid, hits in out.items():
            qid = sub_meta[sqid]
            acc = merged.setdefault(qid, {})
            for d, s in hits:
                if s > acc.get(d, float("-inf")):
                    acc[d] = s
    by_k = {int(qid): int(k) for qid, _, k in queries}
    for qid, acc in merged.items():
        results[qid] = sorted(
            acc.items(), key=lambda x: (-x[1], x[0])
        )[: by_k[qid]]
    return results


def match_phrase_prefix_search(
    spark: SparkSession,
    index_dir: str,
    text: str,
    k: int = 10,
    field: str = DEFAULT_QUERY_FIELD,
    max_expansions: int = 50,
    scoring: str = "gate",
    predicate: list | None = None,
    must_not: list[str] | None = None,
    slop: int = 0,
) -> list[tuple[int, float]]:
    return match_phrase_prefix_search_many(
        spark, index_dir, [(0, text, k)], field=field,
        max_expansions=max_expansions, scoring=scoring,
        predicate=predicate, must_not=must_not, slop=slop,
    )[0]
