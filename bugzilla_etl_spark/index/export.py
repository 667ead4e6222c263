"""Match-set export: the full result set as a DISTRIBUTED DataFrame.

ES answers "give me everything that matches" with ``scroll`` / ``search
after`` + point-in-time — a driver-paged cursor, because an ES client
is a single process. On Spark the natural shape is a lazy DataFrame:
``matches_df`` runs the same per-(segment, shard-bucket) gate as
``bool_search_many`` but yields EVERY surviving doc (no k-heap, no
driver collect), so the match set composes with downstream relational
plans — join it to the corpus, feed dedup/quality operators, write it
out — without ever materializing on the driver. This is the capability
``bool_search_many`` deliberately refuses ("an unordered unbounded
result set is an export, not a query"): the reference's consumers page
ES for dashboards, but a 100 TB training-data pipeline wants the match
set AS A TABLE.

Scale shape: one ``mapInPandas`` stage, its buckets packed into at most
``cores`` partitions (query.bucket_tasks_df — no exchange, AQE can't
coalesce it); per bucket, a task resolves the filter against its
docs-dimension slice (parquet row-group pushdown), generates candidates
from the most selective clause and verifies the rest by lazily-decoded
membership probes (boolquery._gate_survivors — the exact executor
searches use), scores survivors with the shared BM25 clause-sum, and
streams its rows out as Arrow batches. Nothing is ever collected; row
volume per bucket is bounded by its match count, not the corpus.

Reference parity: the reference's ES delegation serves bulk readers via
scan+scroll (configuration/es/bug_version.json is built precisely so
downstream ETL can re-read every live version); this module is that
capability re-expressed as a Spark source.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..oracle import idf as _idf
from .boolquery import (
    Bool,
    _analyze_clauses,
    _gate_survivors,
    _score_survivors,
    _sort_key_type,
)
from .manifest import IndexManifest
from .postings import exclusion, read_allowed, read_docs, read_field
from .predicate import validate_filter
from .query import _candidate_dict_dirs, _lookup_terms, bucket_tasks_df

_PD_FOR_SPARK = {"long": "Int64", "double": "float64", "string": "object"}


def matches_df(
    spark: SparkSession,
    index_dir: str,
    query: Bool,
    columns: list[str] | None = None,
) -> DataFrame:
    """All docs matching ``query`` as a lazy, distributed DataFrame of
    (doc_id, score[, *columns]).

    ``query`` supports the gate surface: must / operator / msm, phrase
    (+ slop, phrase_scoring), should (gating a must, or alone — the ES
    bool-with-only-should promotion), must_not, filter, field. A Bool
    with NO clauses is the ES ``match_all`` export: every live doc
    passing the filter, score 0.0. Rank-shaping options (boosts,
    multi_match, function_score, negative) do not change the match set
    and are rejected — use bool_search for shaped rankings.

    ``columns``: typed docs-dimension attributes to carry along (read
    from each bucket's one docs scan; ints surface as nullable int64).

    The result is unordered (buckets are doc-disjoint; order is
    partition order) — exactly Spark's contract for a source. Callers
    sort/limit/join downstream and Catalyst plans it.
    """
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    if query.multi_match or query.functions or query.negative:
        raise ValueError(
            "matches_df exports the match set with base BM25 scores; "
            "multi_match / function_score / boosting shapes do not "
            "change membership — use bool_search for shaped rankings"
        )
    if query.has_boosts() or query.should_boost != 1.0:
        raise ValueError(
            "clause boosts do not change the match set; matches_df "
            "scores with default weights — use bool_search for boosts"
        )
    fld = query.field
    chain = m.field_chain(fld)
    predicate = [list(c) for c in query.filter] or None
    validate_filter(m, predicate)
    cols = list(dict.fromkeys(columns or []))
    col_types = {c: _sort_key_type(m, c) for c in cols if c != "doc_id"}
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
        + [T.StructField(c, col_types[c]) for c in cols if c != "doc_id"]
    )

    def _empty() -> DataFrame:
        return spark.createDataFrame([], schema)

    match_cs, phrase_cs, neg, boost, _mbs, _pbs = _analyze_clauses(
        query, chain
    )
    if query.phrase and not phrase_cs:
        return _empty()  # phrase analyzed to nothing: matches nothing
    if not match_cs and not phrase_cs and boost:
        # ES bool-with-only-should: should becomes the gate (msm=1)
        match_cs = [(boost, 1)]
        boost = []

    all_pos = sorted({t for seq, _ in phrase_cs for t in seq})
    if all_pos and fld not in m.positions_fields():
        raise ValueError(
            f"field {fld!r} was not built with positions=True; phrase "
            "clauses need the positional payload"
        )
    all_gate = sorted({t for ts, _ in match_cs for t in ts} | set(all_pos))
    dfs = _lookup_terms(m, index_dir, all_gate, fld) if all_gate else {}
    neg_dfs = _lookup_terms(m, index_dir, neg, fld) if neg else {}
    idfs = {t: _idf(m.n_docs, df) for t, df in dfs.items()}

    # unmatchable clause -> empty export (same pruning as the searcher)
    live_match = []
    for ts, need in match_cs:
        present = [t for t in ts if t in dfs]
        if len(present) < need:
            return _empty()
        live_match.append((present, need))
    for seq, _sl in phrase_cs:
        if not all(t in dfs for t in set(seq)):
            return _empty()
    spec = {
        "match": live_match,
        "phrase": phrase_cs,
        "mm": [],
        "scoring": query.phrase_scoring,
        "should_boost": 1.0,
    }
    is_match_all = not live_match and not phrase_cs

    # fan-out: blooms prune segments unless match_all must visit all
    if is_match_all or not dfs:
        seg_dirs = list(m.segment_dirs(index_dir))
    else:
        seg_dirs = _candidate_dict_dirs(m, index_dir, sorted(dfs), fld)
    work = [
        (os.path.basename(d), sb) for d in seg_dirs for sb in range(m.n_sb)
    ]
    if not work:
        return _empty()

    gate_terms = sorted(set(all_gate) | {t for t in neg if t in neg_dfs})
    pos_terms = frozenset(all_pos)
    tombstones = np.array(sorted(m.tombstones), dtype=np.int64)
    boost_terms = list(boost)
    k1, b, avgdl = m.k1, m.b, m.field_avgdl(fld)
    n_shards, n_sb = m.n_shards, m.n_sb
    need_docs_dim = is_match_all or bool(col_types)
    attr_cols = [c for c in cols if c != "doc_id"]
    empty = pd.DataFrame(
        {
            f.name: pd.Series(dtype=_PD_FOR_SPARK[f.dataType.typeName()])
            for f in schema.fields
        }
    )

    def run(key, _pdf) -> pd.DataFrame:
        seg_id, sb = key[0], int(key[1])
        bucket = (sb, n_shards, n_sb)
        # docs-dimension slice (match_all candidates, carried columns)
        # and the predicate's allowed set come from ONE scan
        docs_pdf = docs_ids_i64 = None
        if need_docs_dim:
            docs, allowed = read_docs(
                index_dir, seg_id, attr_cols, predicate, bucket
            )
            docs_pdf = docs.to_pandas()
            docs_ids_i64 = docs_pdf["doc_id"].to_numpy(dtype=np.int64)
        else:
            allowed = read_allowed(index_dir, seg_id, predicate, bucket)
        if allowed is not None and not len(allowed):
            return empty.copy()
        terms = read_field(
            index_dir, seg_id, sb, fld, gate_terms, idfs, avgdl, k1, b,
            positions=pos_terms,
        )
        if terms is None:  # legacy segment, foreign field
            return empty.copy()
        excl = exclusion(terms, neg, tombstones)
        surv = _gate_survivors(
            spec, terms, allowed, excl, docs_ids_i64, None
        )
        if surv is None:
            return empty.copy()
        cand, docs_i64, ptfs = surv
        if cand is None:  # match_all: the docs slice is the result
            total = np.zeros(len(docs_i64), dtype=np.float64)
        else:
            total = _score_survivors(
                spec, terms, {}, idfs, boost_terms, cand, ptfs, k1, b,
                avgdl,
            )
        out = pd.DataFrame({"doc_id": docs_i64, "score": total})
        if attr_cols:
            pos = np.searchsorted(docs_ids_i64, docs_i64)
            pos = np.clip(pos, 0, max(0, len(docs_ids_i64) - 1))
            hit = (
                docs_ids_i64[pos] == docs_i64
                if len(docs_ids_i64)
                else np.zeros(len(docs_i64), dtype=bool)
            )
            # gate survivors under a filter are always in the slice;
            # unfiltered queries need the full (uncut) slice too — it
            # was read without a predicate, so hit is all-True. Guard
            # anyway: a missing doc surfaces as null, never a wrong row.
            for c in attr_cols:
                vals = docs_pdf[c].to_numpy()[pos]
                ser = pd.Series(vals)
                ser[~hit] = None
                tn = col_types[c].typeName()
                out[c] = ser.astype(_PD_FOR_SPARK[tn])
        out["doc_id"] = out["doc_id"].astype("int64")
        out["score"] = out["score"].astype("float64")
        return out[[f.name for f in schema.fields]]

    return bucket_tasks_df(spark, work, run, schema)
