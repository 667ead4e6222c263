"""Index-side kNN (ES ``knn`` search): vectors in the docs dimension.

ES 8 made dense vectors an index capability — a ``dense_vector`` field
plus ``knn`` queries that COMPOSE with filters. The engine analog:
build with the embedding column as a doc_attr
(``build_index(doc_attrs=["embedding"])`` — the docs dimension is
columnar parquet, an ``array<float>`` column rides like any other) and
``knn_search`` answers exact filtered nearest-neighbor queries:

- each (segment, shard-bucket) task makes ONE pyarrow scan of its docs
  slice (the filter predicate pushed to parquet row-group statistics,
  only doc_id + the vector column materialized), stacks the vectors,
  and scores EVERY query in the batch with one matrix multiply;
- per-bucket exact top-k heaps -> driver k-way merge (buckets are
  doc-disjoint), so the exchange is k-bounded like every other scorer;
- the result is EXACT (ES's filtered-kNN-via-script_score semantics,
  no HNSW recall loss). This is the corpus-scan path — at 100 TB its
  cost is a columnar scan of one float column, embarrassingly parallel
  and AQE-free; the sub-linear path is the LSH/IVF family in
  ``operators/similarity.py``, which trades exactness for bucket
  pruning and shares the same vector column.

Metrics: ``cosine`` and ``dot`` rank by similarity descending;
``l2`` returns the NEGATED euclidean distance so every metric ranks
descending and ties break (score desc, doc_id asc) uniformly.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .manifest import IndexManifest
from .postings import read_docs
from .predicate import validate_filter
from .query import RESULT_SCHEMA, _empty_like, _execute_buckets, _merge_topk

__all__ = ["knn_search", "knn_search_many"]

_METRICS = ("cosine", "dot", "l2")


def _make_knn_bucket(
    index_dir: str,
    queries: dict[int, tuple[np.ndarray, int]],
    vector_attr: str,
    predicate: list | None,
    metric: str,
    tombstones: np.ndarray,
    n_shards: int,
    n_sb: int,
):
    dim = len(next(iter(queries.values()))[0])
    qids = sorted(queries)
    qmat = np.stack([queries[q][0] for q in qids])  # (nq, dim)
    if metric == "cosine":
        qnorm = np.linalg.norm(qmat, axis=1)
        qnorm[qnorm == 0] = 1.0

    empty = _empty_like(RESULT_SCHEMA)

    def run(key, _pdf):
        import pyarrow.compute as pc

        seg_id, sb = key[0], int(key[1])
        # arrow-native vector extraction: the list column's FLAT value
        # buffer reshapes to (n, dim) in one step — no per-row Python
        # list materialization (the pandas path would build n Python
        # lists just to stack them again)
        tbl, _ = read_docs(
            index_dir, seg_id, [vector_attr], predicate, (sb, n_shards, n_sb)
        )
        if vector_attr not in tbl.column_names:
            return empty.copy()
        tbl = tbl.filter(pc.is_valid(tbl[vector_attr]))
        if not tbl.num_rows:
            return empty.copy()
        ids = tbl.column("doc_id").to_numpy()
        vcol = tbl.column(vector_attr).combine_chunks()
        lens = np.diff(vcol.offsets.to_numpy())
        if not (lens == dim).all():
            bad = sorted(set(int(x) for x in lens[lens != dim]))
            raise ValueError(
                f"stored {vector_attr!r} dims {bad} != query dim {dim}"
            )
        emb = (
            vcol.flatten().to_numpy().astype(np.float64).reshape(-1, dim)
        )
        if len(tombstones):
            keep = ~np.isin(ids, tombstones)
            ids, emb = ids[keep], emb[keep]
        if not len(ids):
            return empty.copy()
        # q . d for every pair through einsum's own loop, not BLAS
        # (``qmat @ emb.T``): a multi-threaded BLAS (the driver's) sums
        # in another order than a single-threaded one (a Python worker's),
        # so scores and tie order would depend on the route
        dots = np.einsum("qd,nd->qn", qmat, emb)  # (nq, ndocs)
        if metric == "l2":
            # -||d - q|| via the expanded form: one product for the batch
            d2 = np.einsum("ij,ij->i", emb, emb)
            sims = -(
                np.sqrt(
                    np.maximum(
                        d2[None, :]
                        - 2.0 * dots
                        + np.einsum("ij,ij->i", qmat, qmat)[:, None],
                        0.0,
                    )
                )
            )
        else:
            sims = dots
            if metric == "cosine":
                dnorm = np.linalg.norm(emb, axis=1)
                dnorm[dnorm == 0] = 1.0
                sims = sims / (qnorm[:, None] * dnorm[None, :])
        frames = []
        for row, qid in enumerate(qids):
            k = queries[qid][1]
            s = sims[row]
            # O(n) top-k: argpartition for the k-th largest score, keep
            # every candidate >= it (so score TIES at the boundary still
            # resolve by the id tie-break exactly as the full lexsort
            # did), then lexsort only the survivors (VERDICT r6 #7).
            # A NaN score (NaN stored vector) partitions to the top and
            # would make ``s >= kth`` empty: a non-finite kth falls back
            # to the full lexsort, which ranks NaNs last
            cand = np.arange(len(s))
            if 0 < k < len(s):
                kth = np.partition(s, len(s) - k)[len(s) - k]
                if np.isfinite(kth):
                    cand = np.flatnonzero(s >= kth)
            order = cand[np.lexsort((ids[cand], -s[cand]))][:k]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qid, dtype=np.int32),
                        "doc_id": ids[order],
                        "score": s[order],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True) if frames else empty.copy()

    return run


def knn_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, object, int]],
    vector_attr: str = "embedding",
    predicate: list | None = None,
    metric: str = "cosine",
    execution: str = "auto",
) -> dict[int, list[tuple[int, float]]]:
    """Batch exact kNN: [(qid, query_vector, k)] ->
    {qid: [(doc_id, score)]} over the stored vector doc_attr, filtered
    by ``predicate`` (ES knn.filter — restricts candidates BEFORE the
    top-k, so results are exact, never post-filtered over-fetch)."""
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}: {metric!r}")
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    if vector_attr not in m.doc_attrs:
        raise ValueError(
            f"index has no stored vector attr {vector_attr!r}; build "
            f"with doc_attrs=[{vector_attr!r}] (doc_attrs: {m.doc_attrs})"
        )
    validate_filter(m, predicate)
    results: dict[int, list[tuple[int, float]]] = {}
    qmap: dict[int, tuple[np.ndarray, int]] = {}
    dims = set()
    for qid, vec, k in queries:
        results[int(qid)] = []
        v = np.asarray(vec, dtype=np.float64)
        if v.ndim != 1 or not len(v):
            raise ValueError(f"query vector must be 1-D non-empty: {qid}")
        dims.add(len(v))
        qmap[int(qid)] = (v, int(k))
    if not qmap:
        return results
    if len(dims) != 1:
        raise ValueError(f"one batch shares one vector dim; got {dims}")
    work = [
        (os.path.basename(d), sb)
        for d in m.segment_dirs(index_dir)
        for sb in range(m.n_sb)
    ]
    if not work:
        return results
    scorer = _make_knn_bucket(
        index_dir, qmap, vector_attr, predicate, metric,
        np.array(sorted(m.tombstones), dtype=np.int64), m.n_shards, m.n_sb,
    )
    # the route model prices the docs scan at C_POST_MS per doc
    pdf = _execute_buckets(
        spark, work, scorer, RESULT_SCHEMA, m.n_docs, execution
    )
    return _merge_topk(pdf, {q: k for q, (_, k) in qmap.items()}, results)


def knn_search(
    spark: SparkSession,
    index_dir: str,
    query_vector,
    k: int = 10,
    vector_attr: str = "embedding",
    predicate: list | None = None,
    metric: str = "cosine",
    execution: str = "auto",
) -> list[tuple[int, float]]:
    return knn_search_many(
        spark, index_dir, [(0, query_vector, k)], vector_attr=vector_attr,
        predicate=predicate, metric=metric, execution=execution,
    )[0]
