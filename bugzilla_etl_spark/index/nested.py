"""ES nested-object queries at the ENGINE level (VERDICT r4 #3).

The reference maps ``attachments[].flags[]`` as ``nested`` with
``dynamic: "strict"`` (configuration/es/bug_version.json:133-135,
171-173): a query matching ``flag=review?`` AND ``requestee=x`` must
match *within one* attachment — flattening the parent document into one
content bag would cross-match sibling attachments. The engine analog:

- **index children as first-class documents**: one corpus row per
  nested object (the attachment), content = that object's fields only,
  with the PARENT's id carried as an integer ``doc_attrs`` column.
  Child identity follows the usual (repo, path, commit) xxhash64, with
  the nested ordinal folded into ``path`` (e.g. ``"<bug>/<ts>/<attach>"``
  — the ``doc_id = xxhash64(parent_path, commit, attach_id)`` shape).
- **query conjunctively over children**: every term must occur in the
  SAME child (the ES ``nested`` + ``bool.must``), scored by the child's
  constituent-term BM25 sum in the CHILD space.
- **roll up to parents**: per-bucket the scorer emits one PARTIAL row
  per (query, parent) — (sum, max, count) over its matching children —
  and the driver merges partials associatively and applies the ES
  ``score_mode`` (avg | max | sum | none). Shuffle volume is bounded by
  distinct matching parents per bucket, never by child count.

Scale shape: candidate children come from the RAREST query term
(the phrase executor's intersect-outward discipline — hot terms decode
only candidate blocks), the predicate/tombstone filters apply before
scoring, and the parent-attr lookup reads only the docs rows of
candidate children (pyarrow ``isin`` pushdown) or one bucket-bounded
column scan, whichever is smaller.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..codec import u64_to_doc_id
from ..oracle import idf as _idf
from ..tokenize import py_analyze
from .manifest import IndexManifest
from .postings import exclusion, read_allowed, read_docs, read_field
from .predicate import validate_filter
from .query import (
    _allowed_mask,
    _candidate_dict_dirs,
    _empty_like,
    _execute_buckets,
    _lookup_terms,
    _phrase_survivors,
)

#: ES nested-query score modes (bug_version.json's queries run avg, the
#: ES default); "none" = match-only (score 1.0 per parent)
SCORE_MODES = ("avg", "max", "sum", "none")

PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType()),
        T.StructField("parent", T.LongType()),
        T.StructField("s_sum", T.DoubleType()),
        T.StructField("s_max", T.DoubleType()),
        T.StructField("n_children", T.LongType()),
    ]
)

#: switch point between per-candidate isin pushdown and a full bucket
#: column scan for the parent-attr lookup
_ISIN_MAX = 8192

#: partial-volume estimate (candidate children across the batch) above
#: which the (query_id, parent) rollup merge runs as a SPARK aggregation
#: with only the final top-k parents collected, instead of materializing
#: every matching parent's partials in driver pandas (VERDICT r5 #2
#: scale finding: a hot conjunctive nested query at 100x collects
#: O(matching parents) rows into one driver groupby — bounded today by
#: the rarest-term df, but that can be millions at 100 TB). The merge is
#: associative either way; results are identical (parity-tested).
NESTED_SPARK_MERGE_MIN = int(
    os.environ.get("SPARK_GRAFT_NESTED_SPARK_MERGE_MIN", "200000")
)


def _conjunctive_candidates(
    terms: dict,
    seq: list[str],
    allowed: np.ndarray | None,
    excl: np.ndarray,
    phrase: bool,
) -> np.ndarray:
    """Rarest-first conjunctive child candidates for one query in one
    bucket (u64 doc ids; empty when unmatchable). ``phrase``: the exact
    token sequence must additionally occur within the child."""
    uniq = sorted(set(seq))
    if any(t not in terms for t in uniq):
        return np.empty(0, dtype=np.uint64)
    by_rarity = sorted(uniq, key=lambda t: terms[t].n_postings)
    cand = terms[by_rarity[0]].all_docs()
    if allowed is not None:
        cand = cand[_allowed_mask(cand, allowed)]
    for t in by_rarity[1:]:
        if not len(cand):
            break
        mask, _ = terms[t].imp_at(cand)
        cand = cand[mask]
    if len(cand) and excl.size:
        cand = cand[~np.isin(u64_to_doc_id(cand), excl)]
    if len(cand) and phrase:
        midx, _ptf, _dl = _phrase_survivors(terms, seq, cand)
        cand = cand[midx] if len(midx) else np.empty(0, dtype=np.uint64)
    return cand


def _docs_cols_for(
    index_dir: str,
    seg_id: str,
    sb: int,
    cand_i64: np.ndarray,
    attrs: list[str],
    n_shards: int,
    n_sb: int,
    scan_cache: dict | None = None,
):
    """Read docs-dimension columns for candidate children, aligned to
    ``cand_i64`` order: isin pushdown for small candidate sets, one
    bucket-bounded column scan (optionally cached across queries via
    ``scan_cache``) otherwise -> {attr: np.ndarray}."""
    small = len(cand_i64) <= _ISIN_MAX
    entry = None if small or scan_cache is None else scan_cache.get(0)
    if entry is None:
        tbl, _ = read_docs(
            index_dir, seg_id, attrs, bucket=(sb, n_shards, n_sb),
            doc_ids=cand_i64 if small else None,
        )
        for a in attrs:
            if a not in tbl.column_names:
                raise ValueError(
                    f"segment {seg_id} docs carry no {a!r} column; "
                    "build the child index with doc_attrs=[...]"
                )
        entry = (
            tbl["doc_id"].to_numpy(),
            {a: tbl[a].to_numpy(zero_copy_only=False) for a in attrs},
        )
        if not small and scan_cache is not None:
            scan_cache[0] = entry
    d_sorted, cols_sorted = entry
    j = np.clip(np.searchsorted(d_sorted, cand_i64), 0, max(len(d_sorted) - 1, 0))
    if not len(d_sorted) or not np.array_equal(d_sorted[j], cand_i64):
        raise ValueError("child doc missing from docs dimension")
    return {a: cols_sorted[a][j] for a in attrs}


def _make_nested_bucket_scorer(
    index_dir: str,
    queries: dict[int, tuple[list[str], int]],
    idfs: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    tombstones: np.ndarray,
    fld: str,
    parent_attr: str,
    predicate: list | None,
    n_shards: int,
    n_sb: int,
    neg_terms: list[str] | None = None,
    phrase: bool = False,
):
    """Per-(segment, sb) conjunctive child scorer + parent partial
    rollup over the shared lazy block lists (index.postings; positions
    decoded only in ``phrase`` mode).
    ``neg_terms``: must_not over CHILD content — a child containing any
    of them can never match (its parent can still match via another
    child, the ES nested must_not-inside-nested semantics).
    ``phrase``: the EXACT token sequence must occur within one child
    (ES nested + match_phrase) — candidates verify adjacency from the
    positional payload before the rollup."""
    neg = sorted(set(neg_terms or ()))
    all_terms = sorted({t for seq, _ in queries.values() for t in seq} | set(neg))

    empty = _empty_like(PARTIAL_SCHEMA)

    def run(key, _pdf):  # (key, pd.DataFrame) -> pd.DataFrame
        seg_id, sb = key[0], int(key[1])
        allowed = read_allowed(index_dir, seg_id, predicate, (sb, n_shards, n_sb))
        if allowed is not None and not len(allowed):
            return empty.copy()
        terms = read_field(
            index_dir, seg_id, sb, fld, all_terms, idfs, avgdl, k1, b,
            positions=all_terms if phrase else (),
        )
        if not terms:
            return empty.copy()
        excl = exclusion(terms, neg, tombstones)

        # bucket docs-column scan shared across the batch's queries
        scan_cache: dict = {}
        frames: list[pd.DataFrame] = []
        for qid, (seq, _k) in queries.items():
            cand = _conjunctive_candidates(terms, seq, allowed, excl, phrase)
            if not len(cand):
                continue
            uniq = sorted(set(seq))
            total = np.zeros(len(cand), dtype=np.float64)
            for t in uniq:  # sorted term order -> deterministic sums
                _, imp = terms[t].imp_at(cand)
                total += imp
            parents = _docs_cols_for(
                index_dir, seg_id, sb, u64_to_doc_id(cand), [parent_attr],
                n_shards, n_sb, scan_cache,
            )[parent_attr].astype(np.int64)
            grp = pd.DataFrame({"parent": parents, "s": total}).groupby(
                "parent", sort=False
            )["s"]
            agg = grp.agg(["sum", "max", "count"]).reset_index()
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(len(agg), qid, dtype=np.int32),
                        "parent": agg["parent"].astype(np.int64),
                        "s_sum": agg["sum"].astype(np.float64),
                        "s_max": agg["max"].astype(np.float64),
                        "n_children": agg["count"].astype(np.int64),
                    }
                )
            )
        if not frames:
            return empty.copy()
        return pd.concat(frames, ignore_index=True)

    return run


def nested_search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    parent_attr: str,
    score_mode: str = "avg",
    predicate: list | None = None,
    field: str = "content",
    execution: str = "auto",
    must_not: list[str] | None = None,
    phrase: bool = False,
    merge: str = "auto",
) -> dict[int, list[tuple[int, float]]]:
    """Batch ES-nested query: [(query_id, text, k)] ->
    {query_id: [(parent_id, score)]}. Every analyzed term of ``text``
    must occur within ONE child document; matching children score by
    their constituent-term BM25 sum (child-space stats) and parents
    aggregate child scores per ``score_mode`` (avg: ES default). k
    bounds the PARENT list. ``predicate`` filters children (docs
    dimension, filter context).

    ``merge``: where the (query_id, parent) partial rollup merges —
    "driver" (pandas groupby over collected partials), "spark" (a Spark
    aggregation + per-query top-k window; only k parents per query ever
    reach the driver), or "auto" (spark when the plan-time candidate
    estimate exceeds NESTED_SPARK_MERGE_MIN — the 100x-scale guard for
    hot conjunctive queries whose matching-parent count is unbounded).
    Both paths compute identical results (the merge is associative and
    the score projection is the same expression)."""
    if score_mode not in SCORE_MODES:
        raise ValueError(f"score_mode must be one of {SCORE_MODES}")
    if merge not in ("auto", "driver", "spark"):
        raise ValueError(f"merge must be auto|driver|spark: {merge!r}")
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    if phrase and field not in m.positions_fields():
        raise ValueError(
            f"field {field!r} was not built with positions=True; nested "
            "phrase queries need the positional payload"
        )
    validate_filter(m, predicate)
    chain = m.field_chain(field)
    qseq = {int(qid): (py_analyze(text, chain), int(k)) for qid, text, k in queries}
    qseq = {qid: v for qid, v in qseq.items() if v[0]}
    results: dict[int, list[tuple[int, float]]] = {int(q[0]): [] for q in queries}
    if not qseq:
        return results
    all_terms = sorted({t for seq, _ in qseq.values() for t in seq})
    dfs = _lookup_terms(m, index_dir, all_terms, field)
    qeff = {qid: v for qid, v in qseq.items() if all(t in dfs for t in v[0])}
    if not qeff:
        return results
    idfs = {t: _idf(m.n_docs, df) for t, df in dfs.items()}
    neg_raw = sorted({t for q in (must_not or ()) for t in py_analyze(q, chain)})
    neg_dfs = _lookup_terms(m, index_dir, neg_raw, field) if neg_raw else {}
    neg_eff = sorted(set(neg_raw) & set(neg_dfs))
    live = sorted({t for seq, _ in qeff.values() for t in seq})
    work = [
        (os.path.basename(d), sb)
        for d in _candidate_dict_dirs(m, index_dir, live, field)
        for sb in range(m.n_sb)
    ]
    if not work:
        return results
    scorer = _make_nested_bucket_scorer(
        index_dir, qeff, idfs, m.field_avgdl(field), m.k1, m.b,
        np.array(sorted(m.tombstones), dtype=np.int64), field, parent_attr,
        predicate, m.n_shards, m.n_sb, neg_eff, phrase,
    )
    # conjunctive: the rarest term bounds each query's candidate volume
    est = sum(min(dfs[t] for t in seq) for seq, _ in qeff.values())
    est += sum(neg_dfs[t] for t in neg_eff)
    spark_merge = merge == "spark" or (
        merge == "auto" and est > NESTED_SPARK_MERGE_MIN
    )
    if spark_merge:
        # VERDICT r5 #2: keep the rollup distributed — aggregate the
        # (query_id, parent) partials in Spark and collect ONLY the
        # per-query top-k parents. The extra shuffle is bounded by
        # distinct matching (query, parent) pairs; the driver never
        # sees more than sum(k) rows.
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from .query import bucket_tasks_df

        max_k = max(k for _seq, k in qeff.values())
        partials = bucket_tasks_df(spark, work, scorer, PARTIAL_SCHEMA)
        merged_df = partials.groupBy("query_id", "parent").agg(
            F.sum("s_sum").alias("s_sum"),
            F.max("s_max").alias("s_max"),
            F.sum("n_children").alias("n_children"),
        )
        if score_mode == "avg":
            score_col = F.col("s_sum") / F.col("n_children")
        elif score_mode == "max":
            score_col = F.col("s_max")
        elif score_mode == "sum":
            score_col = F.col("s_sum")
        else:  # none: match-only
            score_col = F.lit(1.0)
        merged_df = merged_df.withColumn("score", score_col)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("parent")
        )
        pdf = (
            merged_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_k)
            .select("query_id", "parent", "score")
            .toPandas()
        )
        pdf = pdf.sort_values(
            ["query_id", "score", "parent"], ascending=[True, False, True]
        )
        for qid, grp in pdf.groupby("query_id", sort=False):
            k = qseq[int(qid)][1]
            results[int(qid)] = list(
                zip(grp["parent"].tolist()[:k], grp["score"].tolist()[:k])
            )
        return results
    pdf = _execute_buckets(spark, work, scorer, PARTIAL_SCHEMA, est, execution)
    if not len(pdf):
        return results
    # associative merge of per-bucket partials (a parent's children can
    # span segments/buckets), then the score_mode projection
    merged = (
        pdf.groupby(["query_id", "parent"], sort=False)
        .agg(
            s_sum=("s_sum", "sum"),
            s_max=("s_max", "max"),
            n_children=("n_children", "sum"),
        )
        .reset_index()
    )
    if score_mode == "avg":
        merged["score"] = merged["s_sum"] / merged["n_children"]
    elif score_mode == "max":
        merged["score"] = merged["s_max"]
    elif score_mode == "sum":
        merged["score"] = merged["s_sum"]
    else:  # none: match-only
        merged["score"] = 1.0
    merged = merged.sort_values(
        ["query_id", "score", "parent"], ascending=[True, False, True]
    )
    for qid, grp in merged.groupby("query_id", sort=False):
        k = qseq[int(qid)][1]
        results[int(qid)] = list(
            zip(grp["parent"].tolist()[:k], grp["score"].tolist()[:k])
        )
    return results


def nested_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    parent_attr: str,
    k: int = 10,
    score_mode: str = "avg",
    predicate: list | None = None,
    field: str = "content",
    must_not: list[str] | None = None,
    phrase: bool = False,
    merge: str = "auto",
    inner_hits: int | None = None,
) -> list[tuple]:
    """Single nested query -> [(parent, rolled_score)]; with
    ``inner_hits=N`` -> [(parent, rolled_score, [(child_doc_id,
    child_score), ...])] — ES ``nested.inner_hits``, each winning
    parent's top-N MATCHING children by their child-level BM25.

    Like collapse inner_hits, a winning parent's children can miss any
    single bucket's cut (children shard by THEIR doc_id, a parent's
    children spread across buckets), so this issues ONE bounded second
    phase: ``terms_agg(parent_attr, sub_hits=N)`` over a child-level
    bool query gated on the winning parents via an ``in`` predicate
    (bloom/pushdown-pruned, at most k parent keys). The sub_hits
    scorer is boolquery._score_survivors — the same expression the
    nested rollup starts from — with the SAME conjunctive-within-one-
    child gate (operator="and" / the phrase clause), so inner-hit
    scores are exactly the child scores that were rolled up."""
    hits = nested_search_many(
        spark, index_dir, [(0, query, k)], parent_attr,
        score_mode=score_mode, predicate=predicate, field=field,
        must_not=must_not, phrase=phrase, merge=merge,
    )[0]
    if inner_hits is None or not hits:
        return hits
    if int(inner_hits) < 1:
        raise ValueError(f"inner_hits must be >= 1: {inner_hits}")
    from .aggs import terms_agg
    from .boolquery import Bool

    parents = [p for p, _ in hits]
    flt = [(parent_attr, "in", tuple(parents))]
    flt += [tuple(c) for c in (predicate or ())]
    q = Bool(
        must=() if phrase else (query,),
        phrase=(query,) if phrase else (),
        operator="and",
        must_not=tuple(must_not or ()),
        filter=tuple(flt),
        field=field,
    )
    per = terms_agg(
        spark, index_dir, parent_attr, query=q, size=len(parents),
        sub_hits=int(inner_hits),
    )
    by_key = {key: hs for key, _n, hs in per}
    return [(p, s, by_key.get(p, [])) for p, s in hits]


def _make_nested_agg_bucket(
    index_dir: str,
    seq: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    tombstones: np.ndarray,
    fld: str,
    attr: str,
    parent_attr: str | None,
    predicate: list | None,
    n_shards: int,
    n_sb: int,
    neg: list[str],
    phrase: bool,
    level: str,
    schema: T.StructType,
):
    """Per-(segment, sb) partials for a nested terms aggregation.

    level="child": one (key, n_docs) row per DISTINCT attr value among
    the bucket's matching children — bounded by bucket-local attr
    cardinality; counts sum associatively (children are doc-disjoint
    across buckets).
    level="parent": DISTINCT (key, parent) pairs — a parent's matching
    children can span buckets, so pairs dedupe globally before the
    per-value distinct-parent count."""
    all_terms = sorted(set(seq) | set(neg))

    empty = _empty_like(schema)

    key_dtype = {
        "integer": "int64", "long": "int64",
        "double": "float64", "string": "object",
    }[schema["key"].dataType.typeName()]

    def run(key, _pdf):  # (key, pd.DataFrame) -> pd.DataFrame
        seg_id, sb = key[0], int(key[1])
        allowed = read_allowed(index_dir, seg_id, predicate, (sb, n_shards, n_sb))
        if allowed is not None and not len(allowed):
            return empty.copy()
        terms = read_field(
            index_dir, seg_id, sb, fld, all_terms, idfs, avgdl, k1, b,
            positions=all_terms if phrase else (),
        )
        if not terms:
            return empty.copy()
        excl = exclusion(terms, neg, tombstones)
        cand = _conjunctive_candidates(terms, seq, allowed, excl, phrase)
        if not len(cand):
            return empty.copy()
        want = [attr] if level == "child" else sorted({attr, parent_attr})
        cols = _docs_cols_for(
            index_dir, seg_id, sb, u64_to_doc_id(cand), want, n_shards, n_sb
        )
        vals = pd.Series(cols[attr])
        keep = vals.notna()  # ES terms agg skips missing values
        if level == "child":
            grp = (
                pd.DataFrame({"key": vals[keep].astype(key_dtype)})
                .groupby("key", sort=False)
                .size()
                .reset_index(name="n_docs")
            )
            grp["n_docs"] = grp["n_docs"].astype("int64")
            return grp[["key", "n_docs"]]
        pairs = pd.DataFrame(
            {
                "key": vals[keep].astype(key_dtype),
                "parent": pd.Series(cols[parent_attr])[keep].astype("int64"),
            }
        ).drop_duplicates(ignore_index=True)
        return pairs[["key", "parent"]]

    return run


def nested_terms_agg(
    spark: SparkSession,
    index_dir: str,
    attr: str,
    query: str,
    parent_attr: str | None = None,
    level: str = "parent",
    size: int = 10,
    predicate: list | None = None,
    field: str = "content",
    must_not: list[str] | None = None,
    phrase: bool = False,
    execution: str = "auto",
    merge: str = "auto",
) -> list[tuple]:
    """ES ``nested`` aggregation over a nested query's match set.

    level="child" (ES nested agg + terms over the nested path): count
    MATCHING CHILDREN per value of a child doc_attr — "for bugs
    matching X, flag-status breakdown within the matching attachments".
    level="parent" (ES reverse_nested + terms): count DISTINCT PARENTS
    per attr value — "how many bugs per product carry a review? flag"
    (the attr is denormalized onto children, constant per parent; if it
    varies within a parent, that parent legitimately counts once per
    distinct value it carries — exactly what reverse_nested does when a
    parent's matching children disagree).

    The match set is the nested query's: every analyzed term of
    ``query`` within ONE child, minus must_not children, minus
    tombstones, within the ``predicate`` filter context. Returns
    [(value, count)], count desc then value asc, top ``size`` — exact
    counts.

    Scale: child partials are (value, count) rows bounded by per-bucket
    attr cardinality. Parent partials are distinct (value, parent)
    pairs — unbounded by k, so the dedupe+count merge runs as a Spark
    aggregation when the plan-time candidate estimate exceeds
    NESTED_SPARK_MERGE_MIN (``merge="auto"``); only ``size`` rows reach
    the driver. Both merge paths are parity-identical."""
    if level not in ("parent", "child"):
        raise ValueError(f"level must be parent|child: {level!r}")
    if level == "parent" and not parent_attr:
        raise ValueError("level='parent' needs parent_attr")
    if merge not in ("auto", "driver", "spark"):
        raise ValueError(f"merge must be auto|driver|spark: {merge!r}")
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    if phrase and field not in m.positions_fields():
        raise ValueError(
            f"field {field!r} was not built with positions=True; nested "
            "phrase queries need the positional payload"
        )
    validate_filter(m, predicate)
    for a in [attr] + ([parent_attr] if level == "parent" else []):
        if m.doc_attrs and a not in m.doc_attrs:
            raise ValueError(f"unknown doc_attr {a!r}")
    chain = m.field_chain(field)
    seq = py_analyze(query, chain)
    if not seq:
        return []
    dfs = _lookup_terms(m, index_dir, sorted(set(seq)), field)
    if not all(t in dfs for t in set(seq)):
        return []
    idfs = {t: _idf(m.n_docs, df) for t, df in dfs.items()}
    neg_raw = sorted({t for q in (must_not or ()) for t in py_analyze(q, chain)})
    neg_dfs = _lookup_terms(m, index_dir, neg_raw, field) if neg_raw else {}
    neg_eff = sorted(set(neg_raw) & set(neg_dfs))
    work = [
        (os.path.basename(d), sb)
        for d in _candidate_dict_dirs(m, index_dir, sorted(set(seq)), field)
        for sb in range(m.n_sb)
    ]
    if not work:
        return []
    from .boolquery import _sort_key_type

    key_t = _sort_key_type(m, attr)
    if level == "child":
        schema = T.StructType(
            [T.StructField("key", key_t), T.StructField("n_docs", T.LongType())]
        )
    else:
        schema = T.StructType(
            [T.StructField("key", key_t), T.StructField("parent", T.LongType())]
        )
    scorer = _make_nested_agg_bucket(
        index_dir, seq, idfs, m.field_avgdl(field), m.k1, m.b,
        np.array(sorted(m.tombstones), dtype=np.int64), field, attr,
        parent_attr, predicate, m.n_shards, m.n_sb, neg_eff, phrase, level,
        schema,
    )
    est = min(dfs[t] for t in set(seq)) + sum(neg_dfs[t] for t in neg_eff)
    spark_merge = merge == "spark" or (
        merge == "auto" and est > NESTED_SPARK_MERGE_MIN
    )
    if level == "parent" and spark_merge:
        from pyspark.sql import functions as F

        from .query import bucket_tasks_df

        pdf = (
            bucket_tasks_df(spark, work, scorer, schema)
            .dropDuplicates(["key", "parent"])
            .groupBy("key")
            .agg(F.count("*").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("key"))
            .limit(size)
            .toPandas()
        )
        return list(zip(pdf["key"].tolist(), pdf["n_docs"].tolist()))
    pdf = _execute_buckets(spark, work, scorer, schema, est, execution)
    if not len(pdf):
        return []
    if level == "child":
        merged = pdf.groupby("key", sort=False)["n_docs"].sum().reset_index()
    else:
        merged = (
            pdf.drop_duplicates(["key", "parent"])
            .groupby("key", sort=False)
            .size()
            .reset_index(name="n_docs")
        )
    merged = merged.sort_values(
        ["n_docs", "key"], ascending=[False, True]
    ).head(size)
    return list(
        zip(merged["key"].tolist(), merged["n_docs"].astype(int).tolist())
    )
