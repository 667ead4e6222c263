"""Fulltext operators over the ``documents`` table, DataFrame-native.

These express the index pipeline's semantics (tokenize -> postings ->
doc stats -> BM25 -> top-k; SURVEY.md §3.4) as pure relational plans so
the DuckDB oracle can verify them value-for-value. The compressed-index
execution path (bugzilla_etl_spark.index) is verified rank-identical to
the pure-Python oracle in pytest; this module is the SQL-checkable twin.

BM25 constants k1=1.2, b=0.75, Lucene idf (north star). Determinism:
avgdl computed as exact-integer-sum / count (one division), scores
ROUND(.,6) with (score desc, doc_id asc) tie-break in BOTH engines.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..tokenize import duckdb_analyze_sql, duckdb_tokens_sql, py_analyze, spark_analyze, spark_tokens

K1, B = 1.2, 0.75

#: fixed reference query (terms present in the driver documents vocab)
QUERY_TERMS = ["table", "hash", "merge"]
HOT_TERM = ["the"]
#: phrase query for the shingled field variant (reference indexes the
#: whiteboard field plain AND shingled, bug_version.json:4-35): the
#: shingle analyzer expands it to unigrams + bigrams (hash_table, ...)
SHINGLE_CHAIN = "code_v1_shingle"
SHINGLE_QUERY = "hash table merge"


def _tokens(spark: SparkSession, sf_dir: str, chain: str = "code_v1") -> DataFrame:
    from ..tokenize import spark_analyze_df

    docs = load_table(spark, sf_dir, "documents", balance=True).select(
        "doc_id", "text"
    )
    staged = spark_analyze_df(docs, "text", chain, out="terms")
    return staged.select("doc_id", F.explode("terms").alias("term"))


_TOK_CTE = f"""
tok AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text')}) AS term FROM documents
)
"""


def _tok_cte(chain: str) -> str:
    return f"""
tok AS (
  SELECT doc_id, unnest({duckdb_analyze_sql('text', chain)}) AS term FROM documents
)
"""


def ft_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The postings EAV (term, doc_id, tf) — the flatten/unpivot stage
    (SURVEY §7.0) — restricted to the reference query's terms."""
    tok = _tokens(spark, sf_dir)
    return (
        tok.filter(F.col("term").isin(QUERY_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


ORACLE_POSTINGS = f"""
WITH {_TOK_CTE}
SELECT term, doc_id, count(*) AS tf FROM tok
WHERE term IN ('table','hash','merge')
GROUP BY term, doc_id
"""


def ft_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length dimension + df per term (A6 term statistics)."""
    tok = _tokens(spark, sf_dir)
    return (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("total_tf"), F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 100)
    )


ORACLE_DOC_STATS = f"""
WITH {_TOK_CTE}
SELECT term, count(*) AS total_tf, count(DISTINCT doc_id) AS df
FROM tok GROUP BY term HAVING count(DISTINCT doc_id) >= 100
"""


#: the last persisted tf frame PER SparkSession — bounded to ONE live
#: cache per session: each twin query evicts its own session's
#: predecessor (never another session's in-flight frame), so a 60-entry
#: sweep never accretes cached exchanges. The final frame is drained at
#: interpreter exit via atexit, not left persisted for the process
#: lifetime (ADVICE r4). The persist must outlive _bm25_topk_df itself:
#: the returned DataFrame is lazy and the scoring pass runs when the
#: caller collects, so a per-call finally would defeat the reuse.
_TF_CACHE: dict[int, DataFrame] = {}
_TF_CACHE_LOCK = __import__("threading").Lock()


def _drain_tf_cache() -> None:
    with _TF_CACHE_LOCK:
        frames = list(_TF_CACHE.values())
        _TF_CACHE.clear()
    for f in frames:
        try:
            f.unpersist()
        except Exception:  # noqa: BLE001 - session teardown races are benign
            pass


__import__("atexit").register(_drain_tf_cache)


def _cache_tf(tf: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    key = id(tf.sparkSession)
    with _TF_CACHE_LOCK:
        prev = _TF_CACHE.pop(key, None)
        # EVICT BEFORE PERSIST — the order is load-bearing (the r4->r5
        # twin-bench regression, root-caused this round): Spark's
        # CacheManager keys cached data by LOGICAL PLAN, and repeated
        # runs of the same twin build distinct DataFrame objects with
        # identical plans. Persist-new-then-unpersist-prev drops the
        # entry the persist just registered ("Asked to cache already
        # cached data", storageLevel NONE), so the tf exchange was never
        # cached during bench trials and the shingled twin re-tokenized
        # per branch (~+60% wall). The `prev is not tf` guard (ADVICE
        # r5) still applies: re-caching the same OBJECT must not evict
        # it.
        if prev is not None and prev is not tf:
            try:
                prev.unpersist()
            except Exception:  # noqa: BLE001 - teardown races are benign
                pass
        tf.persist(StorageLevel.MEMORY_AND_DISK)
        _TF_CACHE[key] = tf
    return tf


def _per_doc_tf(
    spark: SparkSession, sf_dir: str, terms: list[str], chain: str
) -> DataFrame:
    """Cached per-doc frame (doc_id, dl, tf_0..tf_T).

    The query only ever consumes per-doc totals (dl) and the query
    terms' tf — so compute them as array expressions straight off the
    analyzed tokens column: no explode, no (doc_id, term) EAV exchange,
    no dl window. The round-6 per-(doc, term) tf/dl values are identical
    to the exploded groupBy form (a term's tf is its count in the token
    array), so scores are bit-equal to the oracle's. Shuffle bytes drop
    from O(postings) to zero for the per-doc pass; the only exchanges
    left in the twin are the singleton stats aggregation and the
    TakeOrdered top-k (guide §2.3 aggregate-before-shuffle, §2.4)."""
    from ..tokenize import spark_analyze_df

    # balance=True: the single-file documents table is one unsplittable
    # scan task — without the round-robin repartition the whole
    # tokenize pass runs on one core (guide §2.5 input skew)
    balanced = load_table(spark, sf_dir, "documents", balance=True)
    staged = spark_analyze_df(
        balanced.select("doc_id", "text"), "text", chain, out="terms"
    )

    def _tf_of(t: str):
        # one-arg lambda (a two-arg lambda is pyspark's (value, index)
        # form) with the term bound per call, not per comprehension scope
        return F.coalesce(
            F.size(F.filter("terms", lambda x: x == F.lit(t))), F.lit(0)
        )

    per_doc = staged.select(
        "doc_id",
        F.coalesce(F.size("terms"), F.lit(0)).alias("dl"),
        *[_tf_of(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    # persist the narrow per-doc frame (N rows x (2+T) ints — orders of
    # magnitude smaller than the old postings EAV cache): the stats job
    # materializes it, the scoring pass reuses it — tokenization runs
    # ONCE per query
    return _cache_tf(per_doc)


def _bm25_literal_stats(
    per_doc: DataFrame, terms: list[str]
) -> tuple[int, float, dict[str, float]]:
    """Pass 1: corpus statistics as DRIVER scalars folded into the
    scoring plan as literals — the reference's variable/broadcast
    boundary (${BUGS_TABLE_COLUMNS}-style). Without it, the stats and
    scoring branches each specialize the tokenize subplan under
    predicate pushdown, defeating exchange reuse (measured r3: the
    shingled twin spent ~70% of wall re-tokenizing)."""
    import math

    # N rides the same aggregate: per_doc has exactly one row per doc
    # (zero-token docs included — the array form never drops rows, dl
    # coalesces to 0), so count(*) here equals the old docs.count() and
    # the separate count job disappears
    srow = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n = int(srow["n"])
    avgdl = (int(srow["sdl"] or 0) / n) if n else 1.0
    idf = {
        t: math.log(
            1.0
            + (n - int(srow[f"df_{i}"] or 0) + 0.5)
            / (int(srow[f"df_{i}"] or 0) + 0.5)
        )
        for i, t in enumerate(terms)
    }
    return n, avgdl, idf


def _bm25_contribs(
    terms: list[str], idf: dict[str, float], avgdl: float
) -> list:
    """Per-term BM25 contribution columns over the per-doc tf frame
    (0.0 when the term is absent — identical addend set to the exploded
    form's per-posting contrib rows)."""
    return [
        F.when(
            F.col(f"tf_{i}") > 0,
            F.lit(idf[t])
            * (F.col(f"tf_{i}") * (K1 + 1.0))
            / (
                F.col(f"tf_{i}")
                + K1 * (1.0 - B + B * F.col("dl") / F.lit(avgdl))
            ),
        ).otherwise(F.lit(0.0))
        for i, t in enumerate(terms)
    ]


def _bm25_topk_df(
    spark: SparkSession, sf_dir: str, terms: list[str], k: int,
    chain: str = "code_v1",
) -> DataFrame:
    """Pass 2 scores straight off the cached per-doc frame: filter to
    docs matching any query term -> literal idf/avgdl contribution sum
    -> TakeOrdered top-k. Zero wide exchanges."""
    per_doc = _per_doc_tf(spark, sf_dir, terms, chain)
    _, avgdl, idf = _bm25_literal_stats(per_doc, terms)
    match_any = F.greatest(
        *[F.col(f"tf_{i}") for i in range(len(terms))]
    ) > 0 if len(terms) > 1 else (F.col("tf_0") > 0)
    contribs = _bm25_contribs(terms, idf, avgdl)
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    scored = per_doc.filter(match_any).select(
        "doc_id", F.round(score, 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def _bm25_oracle_sql(
    terms: list[str], k: int, chain: str = "code_v1",
    doc_where: str | None = None, neg_terms: list[str] | None = None,
) -> str:
    """``doc_where``: docs-dimension filter (ES filter context) — the
    candidate set shrinks, BM25 statistics (n/df/avgdl) stay GLOBAL,
    matching the engine's predicate semantics. ``neg_terms``: must_not
    text terms — docs containing any are excluded (stats untouched)."""
    in_list = ",".join(f"'{t}'" for t in terms)
    doc_filter = (
        f"AND tf.doc_id IN (SELECT doc_id FROM documents WHERE {doc_where})"
        if doc_where
        else ""
    )
    if neg_terms:
        neg_list = ",".join(f"'{t}'" for t in neg_terms)
        doc_filter += (
            f" AND tf.doc_id NOT IN "
            f"(SELECT doc_id FROM tok WHERE term IN ({neg_list}))"
        )
    return f"""
WITH {_tok_cte(chain) if chain != "code_v1" else _TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({in_list}) GROUP BY term)
SELECT doc_id, round(sum(contrib), 6) AS score FROM (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         AS contrib
  FROM tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({in_list}) {doc_filter}
)
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {k}
"""


def ft_bm25_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: BM25 top-10 for the reference query, as a pure
    Catalyst plan (tokenize -> tf/dl/df aggregates -> broadcast stats ->
    score -> TakeOrdered top-k)."""
    return _bm25_topk_df(spark, sf_dir, QUERY_TERMS, 10)


ORACLE_BM25 = _bm25_oracle_sql(QUERY_TERMS, 10)


def ft_bm25_hot_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single Zipf-hot term (max-df stress; ties broken by doc_id)."""
    return _bm25_topk_df(spark, sf_dir, HOT_TERM, 10)


ORACLE_BM25_HOT = _bm25_oracle_sql(HOT_TERM, 10)


def ft_bm25_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the SHINGLED field variant: the stop filter drops
    noise terms and 2-shingles add bigram terms, so the phrase query
    'hash table merge' also scores exact adjacencies (hash_table,
    table_merge) — the reference's plain+shingled dual indexing
    (configuration/es/bug_version.json:4-35,294-303)."""
    terms = sorted(set(py_analyze(SHINGLE_QUERY, SHINGLE_CHAIN)))
    return _bm25_topk_df(spark, sf_dir, terms, 10, chain=SHINGLE_CHAIN)


ORACLE_BM25_SHINGLED = _bm25_oracle_sql(
    sorted(set(py_analyze(SHINGLE_QUERY, SHINGLE_CHAIN))), 10, chain=SHINGLE_CHAIN
)


def ft_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND semantics: only docs containing EVERY query term are scored
    (the ES bool-must analog); same BM25 ranking on the survivors."""
    # same two-pass literal-stats shape as _bm25_topk_df (one stats job,
    # one scoring job over the cached per-doc frame); the conjunctive
    # gate is simply "every query term's per-doc tf > 0" — no window, no
    # collect_set (df stays computed over ALL docs containing a term,
    # matching the oracle's dfx-over-qtf semantics)
    terms = QUERY_TERMS
    per_doc = _per_doc_tf(spark, sf_dir, terms, "code_v1")
    _, avgdl, idf = _bm25_literal_stats(per_doc, terms)
    match_all = F.col("tf_0") > 0
    for i in range(1, len(terms)):
        match_all = match_all & (F.col(f"tf_{i}") > 0)
    contribs = _bm25_contribs(terms, idf, avgdl)
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    scored = per_doc.filter(match_all).select(
        "doc_id", F.round(score, 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(10)


_IN = ",".join(f"'{t}'" for t in QUERY_TERMS)

ORACLE_BM25_AND = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
qtf AS (SELECT * FROM tf WHERE term IN ({_IN})),
full_docs AS (
  SELECT doc_id FROM qtf GROUP BY doc_id
  HAVING count(DISTINCT term) = {len(QUERY_TERMS)}
),
dfx AS (SELECT term, count(*) AS df FROM qtf GROUP BY term)
SELECT qtf.doc_id, round(sum(
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (qtf.tf * ({K1} + 1.0))
         / (qtf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM qtf
JOIN full_docs USING (doc_id)
JOIN dfx ON qtf.term = dfx.term
JOIN dl ON qtf.doc_id = dl.doc_id
CROSS JOIN stats
GROUP BY qtf.doc_id
ORDER BY score DESC, doc_id
LIMIT 10
"""


# ----------------------------------------------------------- gate harness
# Every engine_* entry builds a real compressed index, queries it and
# returns rows its DuckDB oracle recomputes. What they share lives here:
# the documents -> corpus mapping, the index lifecycle and the oracle
# tie-space re-cut. Nothing is cached across calls; each entry builds its
# own index.

#: the doc_attrs most entries carry: the table doc_id as ``orig_id`` (so
#: attribute-sorted results are directly oracle-comparable) and
#: ``n_chars`` for range filters, as ``_gate_corpus`` expressions
ATTR_COLS = ("doc_id AS orig_id", "n_chars")
ATTRS = ["orig_id", "n_chars"]


def _gate_corpus(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """documents -> engine corpus (repo, path, commit, lang, content,
    *extra). ``path`` carries the table doc_id, which ``_recut`` maps
    engine ids back to; ``extra`` are SQL expressions over the documents
    columns, e.g. ``"doc_id AS orig_id"``."""
    return load_table(spark, sf_dir, "documents").select(
        F.lit("docs").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        "lang",
        F.col("text").alias("content"),
        *(F.expr(e) for e in extra),
    )


@contextmanager
def _gate_index(
    spark: SparkSession, corpus: DataFrame, **build_kw
) -> Iterator[str]:
    """Build ``corpus`` into a fresh temp dir (``n_shards=4, n_tb=4``
    plus ``build_kw``) and yield the dir. The dir is removed on exit,
    also when the build or the body raises."""
    import shutil
    import tempfile

    from ..index import build_index

    idx = tempfile.mkdtemp(prefix="sparkgrep_gate_")
    try:
        build_index(spark, corpus, idx, n_shards=4, n_tb=4, **build_kw)
        yield idx
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def _idmap_for(corpus, doc_ids: list) -> dict:
    """Internal doc_id -> table doc_id for ONLY the result ids (a
    broadcast-size IN-filter pushed into the parquet scan) — the
    scale-clean form of the id mapping: collecting the full dimension
    is the pattern that breaks first at corpus scale (VERDICT r3)."""
    from ..index.build import prepare_docs

    ids = [int(d) for d in set(doc_ids)]
    if not ids:
        return {}
    return {
        r["doc_id"]: int(r["path"])
        for r in prepare_docs(corpus, 4)
        .select("doc_id", "path")
        .filter(F.col("doc_id").isin(ids))
        .collect()
    }


def _recut(
    corpus: DataFrame,
    hits: list | dict,
    k: int | None = 10,
    by: str | tuple[str, ...] | None = None,
    digits: int = 6,
) -> pd.DataFrame:
    """Engine hits -> typed ``(*by, doc_id, score)`` rows cut in the
    oracle's tie space.

    The engine ranks by unrounded score and breaks exact-score ties by
    its internal xxhash64 id; the oracles rank by ``round(score, 6)``
    desc, then table doc_id asc, so a boundary tie at rank k can cut
    different members. Entries over-fetch, and this maps engine ids to
    table ids (``_idmap_for``) and keeps each list's first ``k`` (all
    when None) under the oracle's rule — the cut is then identical.

    ``hits`` is one ``[(engine id, score)]`` list, or a ``{key: list}``
    dict whose keys fill the ``by`` column (a tuple of names for tuple
    keys). ``digits`` sets the rounding of the tie space. doc_id is
    int64 and score float64 also when nothing matched.
    """
    groups = hits if by else {(): hits}
    idmap = _idmap_for(corpus, [d for g in groups.values() for d, _ in g])
    rows = []
    for key, g in groups.items():
        cut = sorted(
            ((round(s, digits), idmap[d]) for d, s in g),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        key = key if isinstance(key, tuple) else (key,)
        rows.extend((*key, did, s) for s, did in cut)
    cols = [by] if isinstance(by, str) else list(by or ())
    return pd.DataFrame(rows, columns=[*cols, "doc_id", "score"]).astype(
        {"doc_id": "int64", "score": "float64"}
    )


def _knn_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """Gate corpus of the documents that have an embedding (carried as
    the ``embedding`` doc_attr beside ``orig_id``), and vec_id 0's
    vector as the query."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _gate_corpus(spark, sf_dir, "doc_id AS orig_id").join(
        emb.select(F.col("vec_id").alias("orig_id"), "embedding"), "orig_id"
    )
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding").head()[0]
    ]
    return corpus, qvec


def engine_bm25_dual_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENGINE path through the driver gate: builds a dual-field
    compressed index over the documents table (plain 'content' +
    'shingled' code_v1_shingle chains sharing ONE corpus scan — the
    reference's one-field-indexed-N-ways model, bug_version.json:4-35,
    294-303), answers the reference query through BOTH field variants of
    the block-max executor, and returns (field, doc_id, score) rows the
    DuckDB oracle recomputes relationally. This is the one gate entry
    where the real compressed-index engine — not its Catalyst twin — is
    value-checked by the driver."""
    from ..index import search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(
        spark, corpus, extra_fields={"shingled": SHINGLE_CHAIN}
    ) as idx:
        per_field = {
            "content": search_many(
                spark, idx, [(0, " ".join(QUERY_TERMS), 30)]
            )[0],
            "shingled": search_many(
                spark, idx, [(0, SHINGLE_QUERY, 30)], field="shingled"
            )[0],
        }
    return spark.createDataFrame(_recut(corpus, per_field, by="field"))


#: the filtered-search gate predicate — an exact-term filter plus a
#: numeric range over a doc_attrs column, combined with fulltext score
#: (the reference's not_analyzed term + range query shape,
#: configuration/es/bug_version.json:57-65,221-224)
FILTER_PRED = [("lang", "==", "en"), ("n_chars", ">=", 200)]
FILTER_WHERE = "lang = 'en' AND n_chars >= 200"


def engine_bm25_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered top-k through the ENGINE: build a compressed index over
    the documents table carrying ``n_chars`` as a doc_attrs column, then
    answer the reference query with a structured predicate
    (lang='en' AND n_chars>=200) applied INSIDE the bucket scorers
    before the heap (index.predicate; VERDICT r3 #1). BM25 statistics
    stay index-global (ES filter context); the DuckDB oracle recomputes
    the same ranking relationally with the filter on the candidate set
    only."""
    from ..index import search_many

    corpus = _gate_corpus(spark, sf_dir, "n_chars")
    with _gate_index(spark, corpus, doc_attrs=["n_chars"]) as idx:
        res = search_many(
            spark, idx, [(0, " ".join(QUERY_TERMS), 30)], predicate=FILTER_PRED
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_FILTERED = _bm25_oracle_sql(QUERY_TERMS, 10, doc_where=FILTER_WHERE)


#: must_not gate shape: positive match on two reference terms, bool
#: must_not on the third (ES bool: {must: match, must_not: match} —
#: the "crash -wontfix" dashboard query class)
MUST_NOT_TERMS = ["merge"]
MUST_NOT_QUERY = ["table", "hash"]


def engine_bm25_must_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool.must_not through the ENGINE (round 5): docs containing the
    negative term are excluded per bucket by decoding its doc list and
    folding it into the tombstone exclusion set — positive statistics
    untouched (filter context), both scorer families. The DuckDB oracle
    excludes via NOT IN over the token EAV."""
    from ..index import search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        res = search_many(
            spark, idx, [(0, " ".join(MUST_NOT_QUERY), 30)],
            must_not=MUST_NOT_TERMS,
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_MUST_NOT = _bm25_oracle_sql(
    MUST_NOT_QUERY, 10, neg_terms=MUST_NOT_TERMS
)


def engine_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percolator through the ENGINE (round 6): five stored Bool
    queries (AND, msm, exact phrase, must_not, filter+term) lowered to
    boolean Catalyst Columns over each doc's analyzed token array —
    one narrow pass, no UDF, no exchange — emitting every (doc,
    matching query) pair. The full pair set has no cut, so no tie
    hazard; the DuckDB oracle recomputes each stored query as a
    relational condition over the token EAV / token array."""
    from ..index import Bool, percolate_df

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("text").alias("content")
    )
    stored = [
        (0, Bool(must="table hash", operator="and")),
        (1, Bool(must="table hash merge", min_should_match=2)),
        (2, Bool(phrase="hash table")),
        (3, Bool(must="table", must_not="merge")),
        (4, Bool(must="dup", filter=(("lang", "==", "en"),))),
    ]
    out = percolate_df(spark, stored, docs)
    return spark.createDataFrame(out.toPandas(), out.schema)


ORACLE_PERCOLATE = f"""
WITH tokarr AS (
  SELECT doc_id, lang, {duckdb_tokens_sql('text')} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tokarr),
tf AS (SELECT doc_id, term FROM tok GROUP BY doc_id, term)
SELECT doc_id, 0 AS query_id FROM tf WHERE term IN ('table','hash')
GROUP BY doc_id HAVING count(DISTINCT term) = 2
UNION ALL
SELECT doc_id, 1 AS query_id FROM tf WHERE term IN ('table','hash','merge')
GROUP BY doc_id HAVING count(DISTINCT term) >= 2
UNION ALL
SELECT doc_id, 2 AS query_id FROM tokarr
WHERE len(toks) >= 2
  AND list_contains(
        list_transform(range(1, len(toks)),
                       i -> toks[i] = 'hash' AND toks[i+1] = 'table'),
        true)
UNION ALL
SELECT doc_id, 3 AS query_id FROM tf WHERE term = 'table'
  AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'merge')
UNION ALL
SELECT t.doc_id, 4 AS query_id FROM tf t
JOIN documents d ON d.doc_id = t.doc_id
WHERE t.term = 'dup' AND d.lang = 'en'
"""


#: more_like_this gate shape: a like-text with tf variance (dup x3) so
#: term selection actually ranks; top-4 by tf*idf, msm=50% of selected
MLT_LIKE_TFS = [("dup", 3), ("hash", 1), ("table", 1), ("the", 1), ("a", 1)]
MLT_MAX_TERMS = 4
MLT_MIN_DF = 2
MLT_MSM_FRAC = 0.5


def engine_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES more_like_this through the ENGINE (round 6): interesting-term
    selection (input-tf · index-idf, df-filtered, top-N with a
    deterministic (score desc, term asc) tiebreak) followed by the
    BM25 minimum_should_match executor over the selected terms. The
    DuckDB oracle recomputes BOTH phases relationally — selection via a
    literal (term, tf) table ranked by the same formula, msm via a
    distinct-term HAVING gate sized from the selected-term count."""
    from ..index import mlt_search

    like = " ".join(t for t, n in MLT_LIKE_TFS for _ in range(n))
    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        res = mlt_search(
            spark, idx, like=like, k=30, max_query_terms=MLT_MAX_TERMS,
            min_doc_freq=MLT_MIN_DF, minimum_should_match=MLT_MSM_FRAC,
        )
    return spark.createDataFrame(_recut(corpus, res))


def _mlt_oracle_sql() -> str:
    like_rows = ", ".join(f"('{t}', {n})" for t, n in MLT_LIKE_TFS)
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
liketf(term, ltf) AS (VALUES {like_rows}),
dfall AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sel AS (
  SELECT l.term, d.df
  FROM liketf l JOIN dfall d ON d.term = l.term CROSS JOIN stats
  WHERE d.df >= {MLT_MIN_DF}
  ORDER BY l.ltf * ln(1.0 + (stats.n - d.df + 0.5) / (d.df + 0.5)) DESC,
           l.term
  LIMIT {MLT_MAX_TERMS}
),
m AS (
  SELECT greatest(1, CAST(floor({MLT_MSM_FRAC} * (SELECT count(*) FROM sel))
                          AS BIGINT)) AS need
),
qtf AS (SELECT tf.* FROM tf JOIN sel ON tf.term = sel.term),
msm_docs AS (
  SELECT doc_id FROM qtf GROUP BY doc_id
  HAVING count(DISTINCT term) >= (SELECT need FROM m)
)
SELECT qtf.doc_id, round(sum(
         ln(1.0 + (stats.n - sel.df + 0.5) / (sel.df + 0.5))
         * (qtf.tf * ({K1} + 1.0))
         / (qtf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM qtf
JOIN msm_docs USING (doc_id)
JOIN sel ON qtf.term = sel.term
JOIN dl ON qtf.doc_id = dl.doc_id
CROSS JOIN stats
GROUP BY qtf.doc_id
ORDER BY score DESC, doc_id
LIMIT 10
"""


ORACLE_MLT = _mlt_oracle_sql()


#: suggester gate shapes: typo inputs for spell correction; a prefix
#: for type-ahead. Ranking is fully determined ((distance, df desc,
#: term asc) / (df desc, term asc)) so cuts carry no tie hazard.
SUGGEST_TYPOS = ["tble", "hashs", "stean", "quary", "jion"]
SUGGEST_EDITS = 2
SUGGEST_PREFIX_LEN = 1
SUGGEST_SIZE = 5
COMPLETE_PREFIX = "s"
COMPLETE_SIZE = 10


def engine_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES term suggester through the ENGINE (round 6): spell-correction
    candidates from the banded dictionary range scan (shared with fuzzy
    queries), ranked (edit distance asc, df desc, term asc) with the ES
    suggest_mode semantics. Sparkless plan-time execution — the oracle
    recomputes the ranking with DuckDB's native levenshtein()."""
    from ..index import term_suggest

    with _gate_index(spark, _gate_corpus(spark, sf_dir)) as idx:
        got = term_suggest(
            idx, " ".join(SUGGEST_TYPOS), max_edits=SUGGEST_EDITS,
            prefix_length=SUGGEST_PREFIX_LEN, size=SUGGEST_SIZE,
            suggest_mode="always",
        )
    rows = [
        (tok, s, df, dist)
        for tok, suggs in got
        for s, df, dist in suggs
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["input", "suggestion", "df", "distance"]
        ).astype({"df": "int64", "distance": "int64"})
    )


def _term_suggest_oracle_sql() -> str:
    per_tok = "\nUNION ALL\n".join(
        f"""SELECT * FROM (
  SELECT '{t}' AS input, term AS suggestion,
         CAST(count(*) AS BIGINT) AS df,
         CAST(levenshtein(term, '{t}') AS BIGINT) AS distance
  FROM tf
  WHERE substr(term, 1, {SUGGEST_PREFIX_LEN}) = '{t[:SUGGEST_PREFIX_LEN]}'
    AND abs(length(term) - {len(t)}) <= {SUGGEST_EDITS}
    AND levenshtein(term, '{t}') <= {SUGGEST_EDITS}
    AND term <> '{t}'
  GROUP BY term
  ORDER BY distance, df DESC, suggestion
  LIMIT {SUGGEST_SIZE}
)"""
        for t in SUGGEST_TYPOS
    )
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
{per_tok}
"""


ORACLE_TERM_SUGGEST = _term_suggest_oracle_sql()


def engine_complete_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion suggester through the ENGINE (round 6): type-ahead
    over the index dictionary — one prefix range scan per segment
    (parquet-stat pushdown), df-weighted (df desc, term asc)."""
    from ..index import complete_suggest

    with _gate_index(spark, _gate_corpus(spark, sf_dir)) as idx:
        got = complete_suggest(idx, COMPLETE_PREFIX, size=COMPLETE_SIZE)
    return spark.createDataFrame(
        pd.DataFrame(got, columns=["suggestion", "df"]).astype(
            {"df": "int64"}
        )
    )


ORACLE_COMPLETE_SUGGEST = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
SELECT term AS suggestion, CAST(count(*) AS BIGINT) AS df
FROM tf
WHERE term LIKE '{COMPLETE_PREFIX}%'
GROUP BY term
ORDER BY df DESC, suggestion
LIMIT {COMPLETE_SIZE}
"""


#: rescore gate shape: cheap OR recall pass, phrase precision pass over
#: the window; window >> match count so the window IS the full base set
#: (no window-boundary tie hazard; final cut re-done in oracle tie space)
RESCORE_BASE = ["table", "merge"]
RESCORE_PHRASE = ["hash", "table"]
RESCORE_W = 2.0


def engine_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rescore`` through the ENGINE (round 6): a BM25 OR query
    recalls the window, then a match_phrase query re-scores it —
    final = query_weight*base + rescore_weight*phrase for window docs
    the phrase matches, base alone otherwise (ES keep-the-hit). The
    second pass carries a ``doc_id IN (window)`` predicate, so its cost
    is bounded by the window, not the corpus. The DuckDB oracle
    recomputes base and phrase passes relationally and combines."""
    from ..index import Bool, rescore_search

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, positions=True) as idx:
        res = rescore_search(
            spark, idx,
            Bool(must=" ".join(RESCORE_BASE)),
            Bool(phrase=" ".join(RESCORE_PHRASE)),
            k=30, window=10**6, rescore_weight=RESCORE_W,
        )
    return spark.createDataFrame(_recut(corpus, res))


def _rescore_oracle_sql() -> str:
    base_in = ",".join(f"'{t}'" for t in sorted(set(RESCORE_BASE)))
    ph_in = ",".join(f"'{t}'" for t in sorted(set(RESCORE_PHRASE)))
    seq = RESCORE_PHRASE
    adj = " AND ".join(f"toks[i+{j}] = '{t}'" for j, t in enumerate(seq))
    contrib = f"""
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
"""
    return f"""
WITH tokarr AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS toks FROM documents
),
phrase_docs AS (
  SELECT doc_id FROM tokarr
  WHERE len(toks) >= {len(seq)}
    AND list_contains(
          list_transform(range(1, len(toks) - {len(seq) - 2}), i -> {adj}),
          true)
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tokarr),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN ({base_in},{ph_in}) GROUP BY term),
base AS (
  SELECT tf.doc_id, sum({contrib}) AS b
  FROM tf JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
  WHERE tf.term IN ({base_in}) GROUP BY tf.doc_id
),
resc AS (
  SELECT tf.doc_id, sum({contrib}) AS r
  FROM tf JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
  JOIN phrase_docs p ON p.doc_id = tf.doc_id
  WHERE tf.term IN ({ph_in}) GROUP BY tf.doc_id
)
SELECT base.doc_id, round(base.b + COALESCE({RESCORE_W} * resc.r, 0.0), 6) AS score
FROM base LEFT JOIN resc ON base.doc_id = resc.doc_id
ORDER BY score DESC, base.doc_id
LIMIT 10
"""


ORACLE_RESCORE = _rescore_oracle_sql()


#: scroll-export gate shape: the FULL filtered match set (no top-k cut
#: -> no boundary-tie hazard), with a docs-dimension column carried
SCROLL_TERMS = ["table", "hash"]
SCROLL_LANG = "en"


def engine_scroll_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES scan/scroll re-expressed as a Spark source (round 6):
    ``matches_df`` returns EVERY doc matching the bool query as a lazy
    distributed DataFrame — per-bucket gate + BM25 scoring with no
    k-heap and no driver collect — which then composes downstream like
    any table (here: broadcast-joined back to the original ids and
    rounded, all before a single collect). The reference's consumers
    bulk-read its ES index exactly this way (scan+scroll); the DuckDB
    oracle recomputes the full filtered match set relationally."""
    from ..index import Bool, matches_df
    from ..index.build import prepare_docs

    corpus = _gate_corpus(spark, sf_dir)
    ids = prepare_docs(corpus, 4).select(
        "doc_id", F.col("path").cast("bigint").alias("orig_id")
    )
    with _gate_index(spark, corpus) as idx:
        out = (
            matches_df(
                spark, idx,
                Bool(
                    must=" ".join(SCROLL_TERMS),
                    filter=(("lang", "==", SCROLL_LANG),),
                ),
                columns=["lang"],
            )
            .join(F.broadcast(ids), "doc_id")
            .select(
                F.col("orig_id").alias("doc_id"),
                F.round("score", 6).alias("score"),
                "lang",
            )
        )
        # the export is lazy; materialize before the index dir vanishes
        pdf = out.toPandas()
    return spark.createDataFrame(pdf, out.schema)


ORACLE_SCROLL = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN ('table','hash') GROUP BY term)
SELECT m.doc_id, m.score, d.lang
FROM (
  SELECT tf.doc_id, round(sum(
           ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * ({K1} + 1.0))
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         ), 6) AS score
  FROM tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id IN (SELECT doc_id FROM documents WHERE lang = '{SCROLL_LANG}')
  GROUP BY tf.doc_id
) m
JOIN documents d ON d.doc_id = m.doc_id
"""



#: minimum_should_match gate shape: four terms including the hottest
#: ("the"), m=2 — the candidate-generation showcase (the union of the
#: three RAREST lists is a complete candidate set; "the" never fully
#: decodes)
MSM_TERMS = ["table", "hash", "merge", "the"]
MSM_M = 2


def engine_bm25_msm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES minimum_should_match through the ENGINE (round 5): at least
    m=2 of the four query terms must occur; surviving docs keep their
    should-semantics BM25 sums. Exact rarest-first candidate generation
    (a doc missing ALL of the n-m+1 rarest terms holds at most m-1)."""
    from ..index import search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        res = search_many(
            spark, idx, [(0, " ".join(MSM_TERMS), 30)],
            min_should_match=MSM_M,
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


_MSM_IN = ",".join(f"'{t}'" for t in MSM_TERMS)

ORACLE_MSM = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
qtf AS (SELECT * FROM tf WHERE term IN ({_MSM_IN})),
msm_docs AS (
  SELECT doc_id FROM qtf GROUP BY doc_id
  HAVING count(DISTINCT term) >= {MSM_M}
),
dfx AS (SELECT term, count(*) AS df FROM qtf GROUP BY term)
SELECT qtf.doc_id, round(sum(
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (qtf.tf * ({K1} + 1.0))
         / (qtf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM qtf
JOIN msm_docs USING (doc_id)
JOIN dfx ON qtf.term = dfx.term
JOIN dl ON qtf.doc_id = dl.doc_id
CROSS JOIN stats
GROUP BY qtf.doc_id
ORDER BY score DESC, doc_id
LIMIT 10
"""

def engine_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match operator=and through the ENGINE (round 5): every query
    term must occur in the doc, scored by the constituent BM25 sum —
    the intersect-outward conjunctive executor (rarest term fully
    decoded, hot terms decode candidate blocks only). Same oracle
    family as the Catalyst twin ft_bm25_conjunctive."""
    from ..index import search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        res = search_many(
            spark, idx, [(0, " ".join(QUERY_TERMS), 30)], operator="and"
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


#: exact-adjacency phrase for the positional gate (the shingled field
#: only approximates bigram adjacency; positions verify it exactly)
PHRASE_QUERY = "hash table"



#: prefix-query gate: a short prefix with a small expansion cap so the
#: top-terms-by-df rewrite (not just "all matching terms") is what the
#: oracle must reproduce
PREFIX_Q = "th"
PREFIX_CAP = 5


def engine_bm25_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES prefix query through the ENGINE (round 5): dictionary range
    scan expands the prefix into the PREFIX_CAP highest-df terms
    (Lucene top-terms multi-term rewrite; ties term asc), scored as
    their should-semantics BM25 sum (rewrite: scoring_boolean)."""
    from ..index import prefix_search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        res = prefix_search_many(
            spark, idx, [(0, PREFIX_Q, 30)], max_expansions=PREFIX_CAP
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_PREFIX = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
exp AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term LIKE '{PREFIX_Q}%'
  GROUP BY term ORDER BY df DESC, term LIMIT {PREFIX_CAP}
)
SELECT tf.doc_id, round(sum(
         ln(1.0 + (stats.n - exp.df + 0.5) / (exp.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM tf
JOIN exp ON tf.term = exp.term
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT 10
"""


#: wildcard gate: a mixed ?/* pattern whose dictionary matches exceed
#: the expansion cap, so the df-ranked top-terms rewrite (not just
#: "all matching terms") is what the oracle must reproduce
WILDCARD_Q = "s?a*"
WILDCARD_CAP = 2


def engine_bm25_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES wildcard query through the ENGINE: the pattern's literal
    prefix prunes a dictionary range scan (parquet statistics),
    survivors are regex-verified vectorized, and the WILDCARD_CAP
    highest-df winners (Lucene top-terms rewrite; ties term asc) score
    as their should-semantics BM25 sum (rewrite: scoring_boolean).
    The DuckDB oracle reproduces the expansion with its native GLOB
    operator — identical */? semantics."""
    from ..index import wildcard_search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        res = wildcard_search_many(
            spark, idx, [(0, WILDCARD_Q, 30)], max_expansions=WILDCARD_CAP
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_WILDCARD = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
exp AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term GLOB '{WILDCARD_Q}'
  GROUP BY term ORDER BY df DESC, term LIMIT {WILDCARD_CAP}
)
SELECT tf.doc_id, round(sum(
         ln(1.0 + (stats.n - exp.df + 0.5) / (exp.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM tf
JOIN exp ON tf.term = exp.term
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT 10
"""


#: regexp gate: an alternation whose dictionary matches exceed the cap,
#: so the df-ranked rewrite is load-bearing; leading '(' makes it a
#: full-dictionary scan (the documented ES leading-metachar cost)
REGEXP_Q = "(hash|merge|s.an)"
REGEXP_CAP = 2


def engine_bm25_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES regexp query through the ENGINE: anchored full-match regex
    expanded over the dictionary (leading literal run prunes the range
    scan — empty here, a documented full-dict scan), survivors verified
    with one vectorized fullmatch, the REGEXP_CAP highest-df winners
    scored as their should-semantics BM25 sum. The DuckDB oracle
    reproduces the expansion with regexp_full_match."""
    from ..index import regexp_search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        res = regexp_search_many(
            spark, idx, [(0, REGEXP_Q, 30)], max_expansions=REGEXP_CAP
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_REGEXP = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
exp AS (
  SELECT term, count(*) AS df FROM tf
  WHERE regexp_full_match(term, '{REGEXP_Q}')
  GROUP BY term ORDER BY df DESC, term LIMIT {REGEXP_CAP}
)
SELECT tf.doc_id, round(sum(
         ln(1.0 + (stats.n - exp.df + 0.5) / (exp.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM tf
JOIN exp ON tf.term = exp.term
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT 10
"""


#: fuzzy gate: two single-edit typos of reference terms; prefix_length=1
#: (candidates share the first char - the range-scan discipline),
#: per-term expansion cap 10 ranked by df
FUZZY_TYPOS = ["tble", "hashs"]
FUZZY_EDITS = 1
FUZZY_PREFIX_LEN = 1
FUZZY_CAP = 10


def engine_bm25_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match fuzziness through the ENGINE (round 5): each typo term
    expands into its levenshtein<=1 dictionary neighbors (first-char
    range pruning, df-ranked per-term cap) and the query scores as the
    should-sum over the expansion union. The oracle reproduces the
    expansion with DuckDB's native levenshtein() - the engine's DP was
    fuzz-verified equal to it."""
    from ..index import fuzzy_search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        res = fuzzy_search_many(
            spark, idx, [(0, " ".join(FUZZY_TYPOS), 30)],
            max_edits=FUZZY_EDITS, prefix_length=FUZZY_PREFIX_LEN,
            max_expansions=FUZZY_CAP,
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


def _fuzzy_oracle_sql() -> str:
    exp_selects = "\n  UNION ALL\n".join(
        f"""  SELECT term FROM (
    SELECT term, count(*) AS df FROM tf
    WHERE substr(term, 1, {FUZZY_PREFIX_LEN}) = '{t[:FUZZY_PREFIX_LEN]}'
      AND abs(length(term) - {len(t)}) <= {FUZZY_EDITS}
      AND levenshtein(term, '{t}') <= {FUZZY_EDITS}
    GROUP BY term ORDER BY df DESC, term LIMIT {FUZZY_CAP}
  )"""
        for t in FUZZY_TYPOS
    )
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
exp AS (
  SELECT DISTINCT term FROM (
{exp_selects}
  )
),
dfx AS (
  SELECT tf.term, count(*) AS df FROM tf JOIN exp ON tf.term = exp.term
  GROUP BY tf.term
)
SELECT tf.doc_id, round(sum(
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM tf
JOIN dfx ON tf.term = dfx.term
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT 10
"""


ORACLE_FUZZY = _fuzzy_oracle_sql()

def engine_phrase_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True match_phrase through the ENGINE (VERDICT r3 #4): build a
    POSITIONAL index (build_index(positions=True) — per-posting
    within-doc position deltas in the block payload), answer the phrase
    query by intersect-then-verify-adjacency from positions, score
    matching docs by their constituent-term BM25 sum (the documented
    phrase-as-gate scoring — relationally reproducible, unlike Lucene's
    phrase-freq tf). Reference: the shingle filters exist to approximate
    exactly this (configuration/es/bug_version.json:26-35)."""
    from ..index import phrase_search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, positions=True) as idx:
        res = phrase_search_many(spark, idx, [(0, PHRASE_QUERY, 30)])[0]
    return spark.createDataFrame(_recut(corpus, res))


def _phrase_oracle_sql(
    seq: list[str], k: int, doc_where: str | None = None,
    extra_must: list[str] | None = None, neg_terms: list[str] | None = None,
    should_terms: list[str] | None = None,
) -> str:
    """Adjacency via list lambdas over the token array, scoring via the
    same global-stats BM25 as _bm25_oracle_sql restricted to phrase
    matches. ``doc_where`` narrows the CANDIDATE set only (ES filter
    context): stats stay corpus-global. ``extra_must``: additional bool
    must TERM clauses — the doc must also contain each, and its BM25
    contribution joins the sum (the composable-bool gate shape).
    ``neg_terms``: must_not exclusion (stats untouched).
    ``should_terms``: optional terms that contribute BM25 where present
    but never gate (ES bool.should beside gating clauses)."""
    uniq = sorted(set(seq) | set(extra_must or ()) | set(should_terms or ()))
    in_list = ",".join(f"'{t}'" for t in uniq)
    adj = " AND ".join(
        f"toks[i+{j}] = '{t}'" for j, t in enumerate(seq)
    )
    flt = (
        f" AND doc_id IN (SELECT doc_id FROM documents WHERE {doc_where})"
        if doc_where
        else ""
    )
    for t in extra_must or ():
        flt += f" AND list_contains(toks, '{t}')"
    for t in neg_terms or ():
        flt += f" AND NOT list_contains(toks, '{t}')"
    return f"""
WITH tokarr AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS toks FROM documents
),
phrase_docs AS (
  SELECT doc_id FROM tokarr
  WHERE len(toks) >= {len(seq)}
    AND list_contains(
          list_transform(range(1, len(toks) - {len(seq) - 2}), i -> {adj}),
          true){flt}
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tokarr),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({in_list}) GROUP BY term)
SELECT doc_id, round(sum(contrib), 6) AS score FROM (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         AS contrib
  FROM tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN phrase_docs pd ON pd.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({in_list})
)
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {k}
"""


ORACLE_PHRASE = _phrase_oracle_sql(PHRASE_QUERY.split(), 10)


def engine_phrase_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase + filter context through the ENGINE (VERDICT r4 #4): the
    reference's production query combines an analyzed match with
    not_analyzed term filters and a range clause
    (configuration/es/bug_version.json:57-65,221-224); here the analyzed
    match is an EXACT positional phrase and the structured predicate
    (lang='en' AND n_chars>=200) is resolved inside each bucket scorer
    against the docs dimension BEFORE candidate intersection. BM25 stats
    stay index-global (filter context)."""
    from ..index import phrase_search_many

    corpus = _gate_corpus(spark, sf_dir, "n_chars")
    with _gate_index(spark, corpus, positions=True, doc_attrs=["n_chars"]) as idx:
        res = phrase_search_many(
            spark, idx, [(0, PHRASE_QUERY, 30)], predicate=FILTER_PRED
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_PHRASE_FILTERED = _phrase_oracle_sql(
    PHRASE_QUERY.split(), 10, doc_where=FILTER_WHERE
)



def engine_phrase_slop_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase with slop through the ENGINE (round 5): ordered
    proximity — 'hash table' with slop=1 also matches 'hash <x> table'.
    The greedy smallest-next-position chain is exact for the ordered
    semantics; for a 2-term phrase with slop=1 the oracle condition is
    t0 at i AND t1 at i+1 or i+2."""
    from ..index import phrase_search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, positions=True) as idx:
        res = phrase_search_many(
            spark, idx, [(0, PHRASE_QUERY, 30)], slop=1
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


def _phrase_slop_oracle_sql(t0: str, t1: str, slop: int, k: int) -> str:
    """2-term ordered proximity: t0 at i, the NEAREST following t1
    within i+1 .. i+1+slop."""
    ors = " OR ".join(f"toks[i+{j}] = '{t1}'" for j in range(1, slop + 2))
    return f"""
WITH tokarr AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS toks FROM documents
),
phrase_docs AS (
  SELECT doc_id FROM tokarr
  WHERE len(toks) >= 2
    AND list_contains(
          list_transform(range(1, len(toks)),
                         i -> toks[i] = '{t0}' AND ({ors})),
          true)
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tokarr),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (SELECT term, count(*) AS df FROM tf WHERE term IN ('{t0}','{t1}') GROUP BY term)
SELECT tf.doc_id, round(sum(
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM tf
JOIN dfx ON tf.term = dfx.term
JOIN dl ON tf.doc_id = dl.doc_id
JOIN phrase_docs pd ON pd.doc_id = tf.doc_id
CROSS JOIN stats
WHERE tf.term IN ('{t0}','{t1}')
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT {k}
"""


ORACLE_PHRASE_SLOP = _phrase_slop_oracle_sql(*PHRASE_QUERY.split(), 1, 10)

def engine_phrase_freq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lucene/ES match_phrase SCORING variant through the engine
    (scoring='phrase_freq'): tf = the phrase's occurrence count in the
    doc, weight = the summed idf of the phrase terms — the exact scoring
    shape ES would produce for the query the reference's shingle fields
    only approximate (bug_version.json:26-35)."""
    from ..index import phrase_search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, positions=True) as idx:
        res = phrase_search_many(
            spark, idx, [(0, PHRASE_QUERY, 30)], scoring="phrase_freq"
        )[0]
    return spark.createDataFrame(_recut(corpus, res))


def _phrase_freq_oracle_sql(seq: list[str], k: int) -> str:
    uniq = sorted(set(seq))
    in_list = ",".join(f"'{t}'" for t in uniq)
    adj = " AND ".join(f"toks[i+{j}] = '{t}'" for j, t in enumerate(seq))
    # summed idf over the SEQUENCE (duplicates counted): multiply each
    # distinct term's idf by its occurrence count in the phrase
    idf_terms = " + ".join(
        f"{seq.count(t)} * (SELECT ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) "
        f"FROM dfx CROSS JOIN stats WHERE term = '{t}')"
        for t in uniq
    )
    return f"""
WITH tokarr AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tokarr),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({in_list}) GROUP BY term),
matches AS (
  SELECT doc_id,
         len(list_filter(
           list_transform(range(1, len(toks) - {len(seq) - 2}), i -> {adj}),
           x -> x)) AS ptf,
         len(toks) AS dl
  FROM tokarr WHERE len(toks) >= {len(seq)}
)
SELECT doc_id, round(
         ({idf_terms})
         * (ptf * ({K1} + 1.0))
         / (ptf + {K1} * (1.0 - {B} + {B} * dl / (CAST(stats.sdl AS DOUBLE) / stats.n))),
       6) AS score
FROM matches CROSS JOIN stats
WHERE ptf > 0
ORDER BY score DESC, doc_id
LIMIT {k}
"""


ORACLE_PHRASE_FREQ = _phrase_freq_oracle_sql(PHRASE_QUERY.split(), 10)


ORACLE_DUAL_FIELD = f"""
SELECT 'content' AS field, doc_id, score FROM ({_bm25_oracle_sql(QUERY_TERMS, 10)}) q1
UNION ALL
SELECT 'shingled' AS field, doc_id, score FROM (
{_bm25_oracle_sql(sorted(set(py_analyze(SHINGLE_QUERY, SHINGLE_CHAIN))), 10, chain=SHINGLE_CHAIN)}
) q2
"""


#: the reference indexes ONE field through FOUR analyzer sub-fields
#: (two pattern tokenizers x plain/shingled,
#: configuration/es/bug_version.json:4-35,294-303); this is the same
#: model: code_v1 (identifier tokenizer) + path_v1 (word tokenizer,
#: underscores split) x plain/shingled, all built from ONE corpus scan
FOUR_FIELDS = {
    "shingled": SHINGLE_CHAIN,
    "tokens": "path_v1",
    "tokens_shingled": "path_v1_shingle",
}
FOUR_FIELD_QUERY = {
    "content": " ".join(QUERY_TERMS),
    "shingled": SHINGLE_QUERY,
    "tokens": SHINGLE_QUERY,
    "tokens_shingled": SHINGLE_QUERY,
}


def engine_bm25_four_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-way field parity through the ENGINE (VERDICT r3 #5): one
    build indexes the documents text through all four analyzer chains
    (each its own BM25 space: per-field postings/df/dl/avgdl), and the
    reference query is answered through EVERY sub-field of the block-max
    executor — (field, doc_id, score) verified relationally per chain."""
    from ..index import search_many

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, extra_fields=FOUR_FIELDS) as idx:
        per_field = {
            fld: search_many(spark, idx, [(0, q, 30)], field=fld)[0]
            for fld, q in FOUR_FIELD_QUERY.items()
        }
    return spark.createDataFrame(_recut(corpus, per_field, by="field"))


def _four_field_oracle() -> str:
    parts = []
    chains = {"content": "code_v1", **FOUR_FIELDS}
    for fld in sorted(chains):
        terms = sorted(set(py_analyze(FOUR_FIELD_QUERY[fld], chains[fld])))
        parts.append(
            f"SELECT '{fld}' AS field, doc_id, score FROM "
            f"({_bm25_oracle_sql(terms, 10, chain=chains[fld])}) q_{fld}"
        )
    return "\nUNION ALL\n".join(parts)


ORACLE_FOUR_FIELD = _four_field_oracle()


def engine_filter_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match_all`` + filter context through the ENGINE (VERDICT r5
    #1): every live doc WHERE lang='en' AND n_chars>=200, ordered by a
    typed doc_attr (the table id), top-20 — NO scored term anywhere.
    This is the reference's most common dashboard query shape
    (not_analyzed term + range filters, bug_version.json:57-65,221-224)
    that round-5's entry points could not ask at all. Each bucket task
    resolves the predicate against its docs-dimension slice (parquet
    row-group pushdown) and returns a k-bounded (key, doc_id) heap; the
    attached n_chars comes back through fetch_docs (_source)."""
    from ..index import fetch_docs, match_all_search

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = match_all_search(
            spark, idx, FILTER_PRED, k=20, sort_by=("orig_id", "asc")
        )
        src = fetch_docs(idx, [d for d, _ in res], columns=["n_chars"])
    nchars = dict(zip(src["doc_id"], src["n_chars"]))
    rows = [(int(key), int(nchars[d])) for d, key in res]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "n_chars"])
    )


ORACLE_FILTER_ONLY = f"""
SELECT doc_id, n_chars FROM documents
WHERE {FILTER_WHERE}
ORDER BY doc_id
LIMIT 20
"""


#: sorted-pagination gate: 3 pages x 7, descending attribute order
PAGE_K, PAGE_N = 7, 3


def engine_sorted_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-by-attribute + ``search_after`` deep pagination through the
    ENGINE (VERDICT r5 #6): walk {PAGE_N} pages of {PAGE_K} over the
    filtered doc set in DESCENDING typed-attr order, each page resumed
    from the previous page's (key, doc_id) cursor. Per-bucket heaps
    apply the cursor BEFORE the k-cut, so page depth never grows task
    state. The oracle recomputes the page assignment with row_number."""
    from ..index import match_all_search

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    rows, after = [], None
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        for page in range(PAGE_N):
            hits = match_all_search(
                spark, idx, FILTER_PRED, k=PAGE_K,
                sort_by=("orig_id", "desc"), search_after=after,
            )
            if not hits:
                break
            rows.extend((page, int(key)) for _, key in hits)
            after = (hits[-1][1], hits[-1][0])
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["page", "doc_id"])
    )


ORACLE_SORTED_PAGE = f"""
SELECT CAST(floor((rn - 1) / {PAGE_K}) AS INT) AS page, doc_id FROM (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id DESC) AS rn
  FROM documents WHERE {FILTER_WHERE}
) WHERE rn <= {PAGE_K * PAGE_N}
"""


#: field-collapsing gate: n_chars filter only, so several langs survive
COLLAPSE_PRED = [("n_chars", ">=", 200)]
COLLAPSE_WHERE = "n_chars >= 200"
COLLAPSE_K = 20


def engine_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field collapsing through the ENGINE: match_all + range filter,
    ordered by the table id, collapsed to ONE hit per distinct ``lang``
    — the "one row per bug across versions" dashboard shape the
    reference serves via ES ``collapse``. Each bucket task returns at
    most k per-key representatives (a global top-k group's best doc is
    its bucket's per-key best and ranks in that bucket's k best reps,
    so the exchange stays k-bounded, never O(keys)); the driver dedups
    representatives across buckets in final rank order."""
    from ..index import fetch_docs, match_all_search

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = match_all_search(
            spark, idx, COLLAPSE_PRED, k=COLLAPSE_K,
            sort_by=("orig_id", "asc"), collapse="lang",
        )
        src = fetch_docs(idx, [d for d, _ in res], columns=["lang"])
    langs = dict(zip(src["doc_id"], src["lang"]))
    rows = [(int(key), langs[d]) for d, key in res]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang"]).astype(
            {"doc_id": "int64", "lang": "string"}
        )
    )


ORACLE_COLLAPSE = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents WHERE {COLLAPSE_WHERE}
) WHERE rn = 1
ORDER BY doc_id
LIMIT {COLLAPSE_K}
"""


#: the composable-bool gate: ONE query object carrying a must term
#: clause, a positional phrase clause, a must_not exclusion and a
#: filter-context predicate — the full ES bool shape
#: (bug_version.json:57-65,221-224) round 5 spread across five entry
#: points
BOOL_MUST = "the"
BOOL_NOT = ["stream"]
BOOL_WHERE = "lang = 'en'"


def engine_bool_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composable bool DSL through the ENGINE (VERDICT r5 #1): one
    Bool object composing {must: "the", match_phrase: "hash table",
    must_not: "merge", filter: lang='en'} lowers onto the grouped
    executor — candidates from the most selective clause's rarest term,
    every other clause verified by lazy membership probes, the phrase
    position-verified last, score = sum of each clause's constituent
    BM25 contributions (filter/must_not never touch statistics)."""
    from ..index import Bool, bool_search

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS, positions=True) as idx:
        q = Bool(
            must=BOOL_MUST,
            phrase=PHRASE_QUERY,
            must_not=BOOL_NOT,
            filter=[("lang", "==", "en")],
        )
        res = bool_search(spark, idx, q, k=30)
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_BOOL_DSL = _phrase_oracle_sql(
    PHRASE_QUERY.split(), 10, doc_where=BOOL_WHERE,
    extra_must=[BOOL_MUST], neg_terms=BOOL_NOT,
)


#: match_phrase_prefix gate: first token exact, last token a prefix
MPP_TEXT = "the s"
MPP_FIRST, MPP_PREFIX = MPP_TEXT.split()


def engine_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match_phrase_prefix`` (phrase autocomplete) through the
    ENGINE: 'the s' — the last analyzed token expands against the
    dictionary (top-df prefix rewrite, the machinery shared with
    prefix/wildcard queries) and a doc matches when 'the' is followed
    by ANY expansion, scored as its BEST completion's phrase score.
    Executes as ONE batched phrase_search_many job (every completion a
    sub-phrase) + a driver max-merge; the oracle recomputes adjacency
    per (doc, expansion) pair and takes the same max."""
    from ..index import match_phrase_prefix_search

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, positions=True) as idx:
        res = match_phrase_prefix_search(spark, idx, MPP_TEXT, k=30)
    return spark.createDataFrame(_recut(corpus, res))


#: per-(doc, expansion) adjacency, then score = BM25(first) + the MAX
#: matching expansion's BM25 — the sf vocabulary has < max_expansions
#: terms on the prefix, so the top-terms cut degenerates to ALL of them
#: and GLOB enumerates the same expansion set as the dictionary scan
ORACLE_MPP = f"""
WITH tokarr AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tokarr),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
exps AS (
  SELECT DISTINCT term AS e FROM tok WHERE term GLOB '{MPP_PREFIX}*'
),
pairs AS (
  SELECT ta.doc_id, x.e
  FROM tokarr ta CROSS JOIN exps x
  WHERE len(ta.toks) >= 2
    AND list_contains(
          list_transform(range(1, len(ta.toks)), i ->
            ta.toks[i] = '{MPP_FIRST}' AND ta.toks[i+1] = x.e),
          true)
),
dfx AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term = '{MPP_FIRST}' OR term GLOB '{MPP_PREFIX}*'
  GROUP BY term
),
bm AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         AS c
  FROM tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
)
SELECT p.doc_id AS doc_id, round(f.c + max(eb.c), 6) AS score
FROM pairs p
JOIN bm f ON f.doc_id = p.doc_id AND f.term = '{MPP_FIRST}'
JOIN bm eb ON eb.doc_id = p.doc_id AND eb.term = p.e
GROUP BY p.doc_id, f.c
ORDER BY score DESC, p.doc_id
LIMIT 10
"""


def engine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-side exact kNN (ES knn search) through the ENGINE: the
    embeddings table's vectors ride the docs dimension as an
    array<float> doc_attr; the query (vec_id 0's vector) scores every
    live doc per bucket with one matrix multiply over ONE pyarrow scan
    of (doc_id, embedding) — lang='en' filter pushed to parquet
    row-group statistics BEFORE the top-k heap (ES knn.filter,
    exact, never post-filtered over-fetch). Oracle: DuckDB
    list_cosine_similarity over DOUBLE[] casts (the FLOAT[] native
    signature computes in float32 and diverges at the 6th decimal)."""
    from ..index import knn_search

    corpus, qvec = _knn_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, doc_attrs=["orig_id", "embedding"]) as idx:
        res = knn_search(
            spark, idx, qvec, k=30, predicate=[("lang", "==", "en")],
        )
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_KNN = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id AS doc_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.v), 6) AS score
FROM embeddings e
JOIN documents d ON d.doc_id = e.vec_id
CROSS JOIN q
WHERE d.lang = 'en'
ORDER BY score DESC, doc_id
LIMIT 10
"""


def engine_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval through the ENGINE (ES 8.8 RRF): the bool
    executor's BM25 ranking and the knn scorer's cosine ranking fuse by
    reciprocal rank — each retriever contributes 1/(60+rank) for its
    top-100 window, both sharing the lang='en' filter (ES applies the
    retriever tree's filter to every leaf). Rank fusion amplifies
    ulp-level score differences into rank flips (1/(60+r) changes with
    r), so the GATE fuses the two component rankings in a shared
    rounded tie space — scores rounded to 9 decimals, ties by table
    doc_id — that the oracle mirrors exactly; rrf_search's own
    unrounded fusion is pinned against an identical-float in-Python
    reference in pytest."""
    from ..index import Bool, bool_search, knn_search

    corpus, qvec = _knn_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, doc_attrs=["orig_id", "embedding"]) as idx:
        rankings = {
            "lex": bool_search(
                spark, idx,
                Bool(must=PHRASE_QUERY.split()[0],
                     filter=[("lang", "==", "en")]),
                k=100,
            ),
            "vec": knn_search(
                spark, idx, qvec, k=100, predicate=[("lang", "==", "en")],
            ),
        }
    ranked = _recut(corpus, rankings, k=None, by="retriever", digits=9)
    fused: dict[int, float] = {}
    for _, ranking in ranked.groupby("retriever", sort=False):
        for r, did in enumerate(ranking["doc_id"].tolist(), 1):
            fused[did] = fused.get(did, 0.0) + 1.0 / (60 + r)
    rows = sorted(
        ((did, round(s, 6)) for did, s in fused.items()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "score"]).astype(
            {"doc_id": "int64", "score": "float64"}
        )
    )


ORACLE_HYBRID_RRF = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (
  SELECT count(*) AS df FROM tf WHERE term = '{PHRASE_QUERY.split()[0]}'
),
lex AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN documents d ON d.doc_id = tf.doc_id
  CROSS JOIN stats CROSS JOIN dfx
  WHERE tf.term = '{PHRASE_QUERY.split()[0]}' AND d.lang = 'en'
),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS r
  FROM lex QUALIFY r <= 100
),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
knn AS (
  SELECT e.vec_id AS doc_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.v) AS score
  FROM embeddings e
  JOIN documents d ON d.doc_id = e.vec_id
  CROSS JOIN q
  WHERE d.lang = 'en'
),
knnr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS r
  FROM knn QUALIFY r <= 100
)
SELECT doc_id, round(sum(1.0 / (60 + r)), 6) AS score
FROM (SELECT * FROM lexr UNION ALL SELECT * FROM knnr)
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 10
"""


#: alias gate: the documents table split by doc_id parity into TWO
#: separately-built indexes, queried as one (ES alias over indices)
ALIAS_TERM = "table"


def engine_alias_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-index alias search through the ENGINE: the documents table
    split by doc_id parity into two separately-built indexes, one query
    fanned out to both and merged by score — ES ``query_then_fetch``
    semantics, so EACH member scores with its own df/avgdl/N (the
    oracle recomputes both halves' statistics independently). Per-member
    top-k bounds make the merged global top-k exact."""
    from ..index import Bool, multi_index_search

    corpus = _gate_corpus(spark, sf_dir, "doc_id AS orig_id")
    even, odd = (corpus.filter(F.col("orig_id") % 2 == r) for r in (0, 1))
    with _gate_index(spark, even, doc_attrs=["orig_id"]) as d0:
        with _gate_index(spark, odd, doc_attrs=["orig_id"]) as d1:
            res = multi_index_search(
                spark, [d0, d1], Bool(must=ALIAS_TERM), k=30
            )
    # each member's hits in the oracle's tie space, merged in its ORDER BY
    hits = {m: [(d, s) for mm, d, s in res if mm == m] for m in (0, 1)}
    rows = _recut(corpus, hits, k=None, by="member").sort_values(
        ["score", "doc_id", "member"], ascending=[False, True, True]
    ).head(10)
    return spark.createDataFrame(rows.astype({"member": "int32"}))


def _half_bm25_cte(r: int) -> str:
    """Per-half BM25 score chain with THAT half's own statistics."""
    return f"""
d{r} AS (SELECT * FROM documents WHERE doc_id % 2 = {r}),
tok{r} AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text')}) AS term FROM d{r}
),
tf{r} AS (SELECT doc_id, term, count(*) AS tf FROM tok{r} GROUP BY doc_id, term),
dl{r} AS (SELECT doc_id, count(*) AS dl FROM tok{r} GROUP BY doc_id),
st{r} AS (
  SELECT (SELECT count(*) FROM d{r}) AS n, (SELECT sum(dl) FROM dl{r}) AS sdl
),
dfx{r} AS (
  SELECT count(*) AS df FROM tf{r} WHERE term = '{ALIAS_TERM}'
),
s{r} AS (
  SELECT {r} AS member, tf{r}.doc_id AS doc_id,
         ln(1.0 + (st{r}.n - dfx{r}.df + 0.5) / (dfx{r}.df + 0.5))
         * (tf{r}.tf * ({K1} + 1.0))
         / (tf{r}.tf + {K1} * (1.0 - {B} + {B} * dl{r}.dl
              / (CAST(st{r}.sdl AS DOUBLE) / st{r}.n))) AS score
  FROM tf{r}
  JOIN dl{r} ON tf{r}.doc_id = dl{r}.doc_id
  CROSS JOIN st{r} CROSS JOIN dfx{r}
  WHERE tf{r}.term = '{ALIAS_TERM}'
)"""


ORACLE_ALIAS = f"""
WITH {_half_bm25_cte(0)},
{_half_bm25_cte(1)}
SELECT member, doc_id, round(score, 6) AS score
FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
ORDER BY score DESC, doc_id, member
LIMIT 10
"""


#: msearch gate: two queries with DIFFERENT filters in one request —
#: the shape bool_search_many's shared-filter batches cannot take
MSEARCH_SPECS = [("hash", "en"), ("table", "zh")]


def engine_msearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_msearch`` through the ENGINE: one request carrying two
    differently-filtered BM25 queries (must='hash' over lang='en' and
    must='table' over lang='zh') — the heterogeneous shape a single
    bool_search_many batch rejects (one batch shares one filter).
    msearch partitions entries into compatibility groups and runs one
    batched job per group; results reassemble by query id. The oracle
    recomputes both queries independently and unions them."""
    from ..index import Bool, msearch

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        got = msearch(
            spark, idx,
            [
                (i, Bool(must=t, filter=[("lang", "==", lg)]), 30)
                for i, (t, lg) in enumerate(MSEARCH_SPECS)
            ],
        )
    return spark.createDataFrame(
        _recut(corpus, got, by="qid").astype({"qid": "int32"})
    )


ORACLE_MSEARCH = "\nUNION ALL\n".join(
    f"SELECT {i} AS qid, doc_id, score FROM (\n"
    + _bm25_oracle_sql([t], 10, doc_where=f"lang = '{lg}'")
    + "\n)"
    for i, (t, lg) in enumerate(MSEARCH_SPECS)
)


#: the query-string gate: one Lucene-syntax string exercising optional
#: terms, required terms, a wildcard expansion, exclusion, an attr
#: filter, and a phrase — all through the parser front door
QS_QUERY = 'merge batch +big +quer* -stream lang:en "hash table"'


def engine_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``query_string`` through the ENGINE: the Lucene-syntax front
    door (`index/querystring.py`) parses ONE string into the composable
    Bool — here ``merge batch`` (optional, score-only), ``+big``
    (required), ``+quer*`` (required, dictionary-expanded top-df
    wildcard rewrite), ``-stream`` (excluded), ``lang:en`` (ES filter
    context on the docs dimension) and ``"hash table"`` (positional
    phrase) — and executes it through the SAME grouped bool executor as
    engine_bool_dsl. The reference's consumers speak exactly this
    syntax to the ES index it maintains (Kibana-style search over the
    `bugs` alias; configuration/es/bug_version.json:57-65 not_analyzed
    filters + analyzed match)."""
    from ..index import query_string_search

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS, positions=True) as idx:
        res = query_string_search(spark, idx, QS_QUERY, k=30)
    return spark.createDataFrame(_recut(corpus, res))


#: the oracle recomputes the parsed semantics directly: wildcard
#: ``quer*`` expands to the corpus's only matching term ('query' — the
#: sf vocabulary is < max_expansions, so the Lucene top-terms rewrite
#: degenerates to ALL matching terms and GLOB is exact)
ORACLE_QUERY_STRING = _phrase_oracle_sql(
    PHRASE_QUERY.split(), 10, doc_where=BOOL_WHERE,
    extra_must=["big", "query"], neg_terms=["stream"],
    should_terms=["merge", "batch"],
)


#: boosted-bool gate: per-clause weights (term, weight); the two must
#: clauses gate (AND of two single-term OR clauses), should only scores
BOOST_WEIGHTS = [("table", 2.0), ("hash", 1.0), ("merge", 0.5)]


def engine_bool_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES clause ``boost`` through the ENGINE: Bool{must: [table^2,
    hash^1], should: merge^0.5} — gating unchanged (docs must contain
    table AND hash), every clause's BM25 contribution multiplied by its
    weight, should contributions by should_boost. The DuckDB oracle
    recomputes the weighted sum with a per-term weight join over the
    same conjunctive match set."""
    from ..index import Bool, bool_search

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        q = Bool(
            must=[BOOST_WEIGHTS[0][0], BOOST_WEIGHTS[1][0]],
            must_boosts=[BOOST_WEIGHTS[0][1], BOOST_WEIGHTS[1][1]],
            should=BOOST_WEIGHTS[2][0],
            should_boost=BOOST_WEIGHTS[2][1],
        )
        res = bool_search(spark, idx, q, k=30)
    return spark.createDataFrame(_recut(corpus, res))


_BOOST_VALUES = ",".join(f"('{t}', {w})" for t, w in BOOST_WEIGHTS)

ORACLE_BOOL_BOOSTED = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
w AS (SELECT * FROM (VALUES {_BOOST_VALUES}) AS t(term, wt)),
dfx AS (
  SELECT tf.term, count(*) AS df FROM tf JOIN w ON tf.term = w.term
  GROUP BY tf.term
),
gate AS (
  SELECT doc_id FROM tf WHERE term = '{BOOST_WEIGHTS[0][0]}'
  INTERSECT
  SELECT doc_id FROM tf WHERE term = '{BOOST_WEIGHTS[1][0]}'
)
SELECT tf.doc_id, round(sum(
         w.wt * ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * ({K1} + 1.0))
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM tf
JOIN w ON tf.term = w.term
JOIN dfx ON tf.term = dfx.term
JOIN dl ON tf.doc_id = dl.doc_id
JOIN gate ON tf.doc_id = gate.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT 10
"""


#: ES boosting-query gate: conjunctive positive (table AND hash), docs
#: containing the negative term keep matching but score × 0.4
BOOSTING_POS = ["table", "hash"]
BOOSTING_NEG = "merge"
BOOSTING_FACTOR = 0.4


def engine_boosting_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``boosting`` query through the ENGINE: Bool{must: [table,
    hash], negative: merge, negative_boost: 0.4} — docs containing the
    negative term stay in the match set (must_not would EXCLUDE them)
    but their whole BM25 clause-sum multiplies by negative_boost before
    ranking. Membership probes lazily decode candidate blocks only,
    like must_not. The DuckDB oracle recomputes the demoted ranking
    with a CASE over the negative term's doc set."""
    from ..index import Bool, bool_search

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus) as idx:
        q = Bool(
            must=list(BOOSTING_POS),
            negative=BOOSTING_NEG,
            negative_boost=BOOSTING_FACTOR,
        )
        res = bool_search(spark, idx, q, k=30)
    return spark.createDataFrame(_recut(corpus, res))


_BOOSTING_IN = ",".join(f"'{t}'" for t in BOOSTING_POS)

ORACLE_BOOSTING = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (
  SELECT term, count(*) AS df FROM tf WHERE term IN ({_BOOSTING_IN})
  GROUP BY term
),
gate AS (
  SELECT doc_id FROM tf WHERE term = '{BOOSTING_POS[0]}'
  INTERSECT
  SELECT doc_id FROM tf WHERE term = '{BOOSTING_POS[1]}'
),
neg AS (SELECT DISTINCT doc_id FROM tf WHERE term = '{BOOSTING_NEG}'),
raw AS (
  SELECT tf.doc_id, sum(
           ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * ({K1} + 1.0))
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         ) AS s
  FROM tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN gate ON tf.doc_id = gate.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id,
       round(s * CASE WHEN doc_id IN (SELECT doc_id FROM neg)
                      THEN {BOOSTING_FACTOR} ELSE 1.0 END, 6) AS score
FROM raw
ORDER BY score DESC, doc_id
LIMIT 10
"""


def engine_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``function_score`` through the ENGINE: gate on must:"the",
    then REPLACE the BM25 score with score_mode=sum over two functions
    — field_value_factor ln1p(n_chars) plus a filter-gated weight 2.0
    where lang='en' (a filtered function contributes only where its
    filter matches). Function values come from the bucket's own docs
    slice (the same one scan that serves sort/collapse), shaped scores
    feed the per-bucket top-k heap, so the exchange stays k-bounded and
    ranking is exact. Over-fetch then re-cut in the oracle's tie space
    (round-6 score, then table id), like the other scored entries."""
    from ..index import Bool, bool_search

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        q = Bool(
            must=BOOL_MUST,
            functions=[
                {"field_value_factor":
                 {"field": "n_chars", "modifier": "ln1p"}},
                {"weight": 2.0, "filter": [("lang", "==", "en")]},
            ],
            fs_score_mode="sum", fs_boost_mode="replace",
        )
        res = bool_search(spark, idx, q, k=60)
    return spark.createDataFrame(_recut(corpus, res))


ORACLE_FUNCTION_SCORE = f"""
WITH {_TOK_CTE},
gate AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{BOOL_MUST}')
SELECT d.doc_id,
       round(ln(1.0 + d.n_chars)
             + CASE WHEN d.lang = 'en' THEN 2.0 ELSE 0.0 END, 6) AS score
FROM documents d JOIN gate ON d.doc_id = gate.doc_id
ORDER BY score DESC, d.doc_id
LIMIT 10
"""


def engine_filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``filters`` aggregation through the ENGINE: three named
    docs-dimension predicates counted over one query's match set in ONE
    request (buckets overlap freely, like ES). Per bucket task the
    match set is computed once and each named predicate is a vectorized
    pandas mask over the already-loaded docs slice — len(filters) rows
    per task, independent of match count; driver sums are exact."""
    from ..index import Bool, filters_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        got = filters_agg(
            spark, idx,
            [
                ("en", [("lang", "==", "en")]),
                ("long", [("n_chars", ">=", 1000)]),
                ("short_en", [("lang", "==", "en"), ("n_chars", "<", 500)]),
            ],
            query=Bool(must=BOOL_MUST),
        )
    return spark.createDataFrame(
        pd.DataFrame(got, columns=["name", "n_docs"]).astype(
            {"name": "string", "n_docs": "int64"}
        )
    )


ORACLE_FILTERS_AGG = f"""
WITH {_TOK_CTE},
gate AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{BOOL_MUST}'),
m AS (SELECT d.* FROM documents d JOIN gate USING (doc_id))
SELECT 'en' AS name, count(*) AS n_docs FROM m WHERE lang = 'en'
UNION ALL
SELECT 'long', count(*) FROM m WHERE n_chars >= 1000
UNION ALL
SELECT 'short_en', count(*) FROM m WHERE lang = 'en' AND n_chars < 500
"""


def engine_adjacency_matrix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation through the ENGINE: the
    named filters of engine_filters_agg PLUS every pairwise
    intersection ('en&long', 'en&short_en', 'long&short_en') counted
    over the same one docs-dimension scan per bucket task — the pair
    masks are boolean ANDs of the singles' masks, never a second pass
    over the match set. Empty pairs stay in the output (deterministic
    shape; ES drops them)."""
    from ..index import Bool, adjacency_matrix_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        got = adjacency_matrix_agg(
            spark, idx,
            [
                ("en", [("lang", "==", "en")]),
                ("long", [("n_chars", ">=", 1000)]),
                ("short_en", [("lang", "==", "en"), ("n_chars", "<", 500)]),
            ],
            query=Bool(must=BOOL_MUST),
        )
    return spark.createDataFrame(
        pd.DataFrame(got, columns=["name", "n_docs"]).astype(
            {"name": "string", "n_docs": "int64"}
        )
    )


ORACLE_ADJACENCY_AGG = f"""
WITH {_TOK_CTE},
gate AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{BOOL_MUST}'),
m AS (SELECT d.* FROM documents d JOIN gate USING (doc_id))
SELECT 'en' AS name, count(*) AS n_docs FROM m WHERE lang = 'en'
UNION ALL
SELECT 'long', count(*) FROM m WHERE n_chars >= 1000
UNION ALL
SELECT 'short_en', count(*) FROM m WHERE lang = 'en' AND n_chars < 500
UNION ALL
SELECT 'en&long', count(*) FROM m WHERE lang = 'en' AND n_chars >= 1000
UNION ALL
SELECT 'en&short_en', count(*) FROM m
WHERE lang = 'en' AND lang = 'en' AND n_chars < 500
UNION ALL
SELECT 'long&short_en', count(*) FROM m
WHERE n_chars >= 1000 AND lang = 'en' AND n_chars < 500
"""


def engine_sig_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``significant_text`` through the ENGINE: analyzed terms of
    the matching docs' stored _source over-represented vs the corpus
    (JLH), foreground counted by re-analyzing each bucket's matching
    _source slice inside the bucket task (no term vectors — the ES
    design), background priced from the index DICTIONARY with one
    driver-side batched lookup (df is precomputed; no corpus scan).
    The oracle recomputes both sides from the raw text."""
    from ..index import Bool, significant_text_agg

    with _gate_index(
        spark, _gate_corpus(spark, sf_dir), store_source=True
    ) as idx:
        got = significant_text_agg(
            spark, idx, Bool(must=PHRASE_QUERY.split()[0]), size=20
        )
    # over-fetch, then re-cut in the ORACLE's tie space (rounded score)
    rows = sorted(
        ((t, fg, bg, round(s, 6)) for t, fg, bg, s in got),
        key=lambda x: (-x[3], x[0]),
    )[:10]
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["term", "fg", "bg", "score"],
        ).astype({"term": "string", "fg": "int64", "bg": "int64",
                  "score": "float64"})
    )


ORACLE_SIG_TEXT = f"""
WITH tokarr AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS toks FROM documents
),
dtok AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM tokarr),
fgd AS (SELECT doc_id FROM dtok WHERE term = '{PHRASE_QUERY.split()[0]}'),
tot AS (
  SELECT (SELECT count(*) FROM fgd) AS fg_total,
         (SELECT count(*) FROM documents) AS bg_total
),
fg AS (
  SELECT term, count(*) AS fg FROM dtok JOIN fgd USING (doc_id)
  GROUP BY term
),
bg AS (SELECT term, count(*) AS bg FROM dtok GROUP BY term)
SELECT fg.term AS term, CAST(fg.fg AS BIGINT) AS fg,
       CAST(bg.bg AS BIGINT) AS bg,
       round((fg.fg / CAST(tot.fg_total AS DOUBLE)
              - bg.bg / CAST(tot.bg_total AS DOUBLE))
             * ((fg.fg / CAST(tot.fg_total AS DOUBLE))
                / (bg.bg / CAST(tot.bg_total AS DOUBLE))), 6) AS score
FROM fg JOIN bg USING (term) CROSS JOIN tot
WHERE fg.fg / CAST(tot.fg_total AS DOUBLE)
      > bg.bg / CAST(tot.bg_total AS DOUBLE)
ORDER BY score DESC, term
LIMIT 10
"""


#: composite-agg gate: 2 pages x 7 composite keys in key order
COMPOSITE_PAGE_K, COMPOSITE_PAGES, COMPOSITE_INTERVAL = 7, 2, 500.0


def engine_composite_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``composite`` aggregation through the ENGINE: paginate the
    match set's (lang, n_chars-histogram) buckets in key order, 2 pages
    of 7 resumed via the after-key — the scale path for facets whose
    cardinality a terms agg cannot return whole (millions of
    (repo, day) pairs at 100 TB). Per bucket task: full match set ->
    one docs-slice scan -> groupby over the composite key -> after
    cursor applied BEFORE the size cut, so deep pages stay bounded;
    counts are exact because a global first-k key sits within the
    first k of every bucket containing it."""
    from ..index import Bool, composite_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    rows: list = []
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        after = None
        for page in range(COMPOSITE_PAGES):
            buckets = composite_agg(
                spark, idx, ["lang", ("n_chars", COMPOSITE_INTERVAL)],
                query=Bool(must=BOOL_MUST), size=COMPOSITE_PAGE_K,
                after=after,
            )
            if not buckets:
                break
            rows.extend(
                (page, k[0], float(k[1]), int(n)) for k, n in buckets
            )
            after = buckets[-1][0]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["page", "lang", "bucket", "n_docs"])
    )


ORACLE_COMPOSITE_AGG = f"""
WITH {_TOK_CTE},
gate AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{BOOL_MUST}'),
b AS (
  SELECT lang, floor(n_chars / {COMPOSITE_INTERVAL}) * {COMPOSITE_INTERVAL}
           AS bucket, count(*) AS n_docs
  FROM documents d JOIN gate USING (doc_id)
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY 1, 2
),
r AS (
  SELECT lang, bucket, n_docs,
         row_number() OVER (ORDER BY lang, bucket) AS rn
  FROM b
)
SELECT CAST(floor((rn - 1) / {COMPOSITE_PAGE_K}) AS INT) AS page,
       lang, bucket, n_docs
FROM r WHERE rn <= {COMPOSITE_PAGE_K * COMPOSITE_PAGES}
"""


_AGG_IN = ",".join(f"'{t}'" for t in QUERY_TERMS)


def engine_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms`` aggregation through the ENGINE (VERDICT r5 #2):
    count matching docs per ``lang`` doc-value over the reference
    query's match set — the dashboard facet the reference's
    not_analyzed mapping exists to serve (bug_version.json:40-66).
    Each bucket task computes the FULL match set with the shared gate
    evaluator and emits one (value, count) partial per distinct value;
    partials merge associatively (doc-disjoint buckets => EXACT counts,
    no shard_size approximation). The DuckDB oracle recomputes the same
    GROUP BY over the same match set."""
    from ..index import Bool, terms_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = terms_agg(
            spark, idx, "lang", query=Bool(must=" ".join(QUERY_TERMS)),
            size=10,
        )
    return spark.createDataFrame(
        pd.DataFrame(res, columns=["value", "n_docs"])
    )


ORACLE_TERMS_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
)
SELECT d.lang AS value, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN matching m ON d.doc_id = m.doc_id
GROUP BY d.lang
ORDER BY n_docs DESC, value
LIMIT 10
"""


#: top_hits over-fetch: request this many hits per bucket, re-cut to
#: TOP_HITS_K in the ORACLE's tie space (round-6 score, then table id)
TOP_HITS_K = 3
TOP_HITS_FETCH = 15


def engine_top_hits_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``top_hits`` sub-aggregation through the ENGINE: per ``lang``
    terms bucket, the bucket's match count AND its top-3 matching docs
    by BM25 (the "show me each product's best hits" dashboard request).
    Hit scores come from the SAME shared scorer as bool_search
    (boolquery._score_survivors), so agg hits can never drift from
    search results; per-bucket partials carry at most sub_hits rows per
    distinct key (top-k re-cut is associative). The DuckDB oracle
    recomputes the per-lang counts and a row_number() re-rank over the
    same global-stats BM25 scores."""
    from ..index import Bool, terms_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = terms_agg(
            spark, idx, "lang", query=Bool(must=" ".join(QUERY_TERMS)),
            size=10, sub_hits=TOP_HITS_FETCH,
        )
    # re-cut each bucket's over-fetched hits in the oracle's tie space
    hits = _recut(
        corpus, {(v, n): h for v, n, h in res}, k=TOP_HITS_K,
        by=("value", "n_docs"),
    )
    hits.insert(2, "rank", hits.groupby("value").cumcount() + 1)
    return spark.createDataFrame(hits.rename(columns={"doc_id": "orig_id"}))


ORACLE_TOP_HITS_AGG = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({_AGG_IN}) GROUP BY term),
scored AS (
  SELECT tf.doc_id, round(sum(
           ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * ({K1} + 1.0))
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         ), 6) AS score
  FROM tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
keyed AS (
  SELECT d.lang AS value, s.doc_id, s.score
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
),
counts AS (
  SELECT value, CAST(count(*) AS BIGINT) AS n_docs FROM keyed GROUP BY value
),
ranked AS (
  SELECT value, doc_id, score,
         row_number() OVER (
           PARTITION BY value ORDER BY score DESC, doc_id
         ) AS rank
  FROM keyed
)
SELECT c.value, c.n_docs, CAST(r.rank AS BIGINT) AS rank,
       r.doc_id AS orig_id, r.score
FROM counts c JOIN ranked r ON c.value = r.value
WHERE r.rank <= {TOP_HITS_K}
ORDER BY c.n_docs DESC, c.value, r.rank
"""


#: derived epoch-ms timestamp for the date_histogram gate (documents
#: carries no date column; both sides derive the same deterministic ts)
_TS_MS = "(1100000000000 + (abs(doc_id) % 365) * 86400000)"


def engine_date_histogram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_histogram`` with calendar_interval=month through the
    ENGINE: matching-doc counts per UTC month over an epoch-ms
    doc-value — the reference's modified_ts trend query
    (bug_version.json:221-224 date-mapped doc values). Buckets are
    pandas UTC period starts, verified identical to SQL date_trunc;
    the oracle recomputes with DuckDB date_trunc over the same derived
    timestamp."""
    from ..index import Bool, date_histogram_agg

    corpus = _gate_corpus(spark, sf_dir, f"{_TS_MS} AS ts_ms")
    with _gate_index(spark, corpus, doc_attrs=["ts_ms"]) as idx:
        res = date_histogram_agg(
            spark, idx, "ts_ms", "month",
            query=Bool(must=" ".join(QUERY_TERMS)),
        )
    return spark.createDataFrame(
        pd.DataFrame(res, columns=["bucket", "n_docs"])
    )


ORACLE_DATE_HISTOGRAM_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
)
SELECT epoch_ms(date_trunc('month', make_timestamp({_TS_MS.replace("doc_id", "d.doc_id")} * 1000)))
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN matching m ON d.doc_id = m.doc_id
GROUP BY bucket
ORDER BY bucket
"""


#: significant_terms gate: a selective term whose small match set has
#: lang rates that deviate from the corpus background
SIG_TERM = "dup"


def engine_sig_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``significant_terms`` through the ENGINE: which ``lang``
    values are over-represented among docs matching a selective term,
    scored with ES's default JLH heuristic (fg%−bg%)·(fg%/bg%).
    Background counts ride the same per-bucket docs scan as the
    foreground attr join (no second pass); bloom pruning is disabled
    for this kind because every segment owns background. The DuckDB
    oracle recomputes fg/bg counts and the JLH score relationally."""
    from ..index import Bool, significant_terms_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = significant_terms_agg(
            spark, idx, "lang", Bool(must=SIG_TERM), size=10
        )
    # re-cut in the oracle's tie space (round-6 score, then value asc)
    rows = sorted(
        ((k, f, b, round(s, 6)) for k, f, b, s in res),
        key=lambda r: (-r[3], r[0]),
    )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["value", "fg", "bg", "score"])
    )


ORACLE_SIG_TERMS_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term = '{SIG_TERM}'
),
fg AS (
  SELECT d.lang AS value, count(*) AS fg FROM documents d
  JOIN matching m ON d.doc_id = m.doc_id
  WHERE d.lang IS NOT NULL GROUP BY d.lang
),
bg AS (
  SELECT lang AS value, count(*) AS bg FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
tot AS (
  SELECT (SELECT sum(fg) FROM fg) AS fg_t, (SELECT sum(bg) FROM bg) AS bg_t
),
scored AS (
  SELECT bg.value,
         CAST(coalesce(fg.fg, 0) AS BIGINT) AS fg,
         CAST(bg.bg AS BIGINT) AS bg,
         (coalesce(fg.fg, 0) / CAST(tot.fg_t AS DOUBLE)
          - bg.bg / CAST(tot.bg_t AS DOUBLE))
         * ((coalesce(fg.fg, 0) / CAST(tot.fg_t AS DOUBLE))
            / (bg.bg / CAST(tot.bg_t AS DOUBLE))) AS score
  FROM bg LEFT JOIN fg ON bg.value = fg.value CROSS JOIN tot
)
SELECT value, fg, bg, round(score, 6) AS score
FROM scored
WHERE fg > 0 AND score > 0
ORDER BY score DESC, value
LIMIT 10
"""


PCTL_QS = [0.25, 0.5, 0.9, 0.99]


def engine_percentiles_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percentiles`` aggregation through the ENGINE: exact
    quantiles of the ``n_chars`` doc-value over the reference query's
    match set (the latency/size dashboard metric ES answers with
    TDigest — answered exactly here). Per-bucket partials are (value,
    count) pairs bounded by bucket-local cardinality; the driver's
    weighted-quantile walk reproduces SQL quantile_cont / numpy
    'linear' interpolation, which the DuckDB oracle recomputes
    natively."""
    from ..index import Bool, percentiles_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = percentiles_agg(
            spark, idx, "n_chars", PCTL_QS,
            query=Bool(must=" ".join(QUERY_TERMS)),
        )
    return spark.createDataFrame(
        pd.DataFrame(
            [(q, round(v, 6)) for q, v in res], columns=["q", "value"]
        )
    )


_PCTL_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT {q} AS q, round(quantile_cont(d.n_chars, {q}), 6) AS value"
    "\n  FROM documents d JOIN matching m ON d.doc_id = m.doc_id"
    for q in PCTL_QS
)

ORACLE_PERCENTILES_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
)
{_PCTL_SELECTS}
ORDER BY q
"""


AGG_RANGES = [(None, 300), (300, 600), (600, None)]


def engine_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``range`` aggregation through the ENGINE: matching-doc counts
    per [lo, hi) bucket of the ``n_chars`` doc-value over the reference
    query's match set (the temporal-histogram query class the reference
    runs against modified_ts, bug_version.json:221-224)."""
    from ..index import Bool, range_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = range_agg(
            spark, idx, "n_chars", AGG_RANGES,
            query=Bool(must=" ".join(QUERY_TERMS)),
        )
    rows = [(i, n) for i, (_lo, _hi, n) in enumerate(res)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["range_idx", "n_docs"])
    )


def _range_case(i: int, lo, hi) -> str:
    conds = []
    if lo is not None:
        conds.append(f"d.n_chars >= {lo}")
    if hi is not None:
        conds.append(f"d.n_chars < {hi}")
    return " AND ".join(conds) or "TRUE"


ORACLE_RANGE_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
)
SELECT rng.range_idx, CAST(count_if(rng.cond) AS BIGINT) AS n_docs
FROM documents d
JOIN matching m ON d.doc_id = m.doc_id
CROSS JOIN LATERAL (
  VALUES {", ".join(f"({i}, {_range_case(i, lo, hi)})" for i, (lo, hi) in enumerate(AGG_RANGES))}
) AS rng(range_idx, cond)
GROUP BY rng.range_idx
ORDER BY rng.range_idx
"""


HIST_INTERVAL = 250


def engine_histogram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``histogram``/``date_histogram`` through the ENGINE:
    matching-doc counts per fixed-width n_chars bucket
    (key = floor(v / interval) * interval, empty buckets omitted) over
    the reference query's match set — the temporal-trend dashboard
    query the reference runs against modified_ts."""
    from ..index import Bool, histogram_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = histogram_agg(
            spark, idx, "n_chars", float(HIST_INTERVAL),
            query=Bool(must=" ".join(QUERY_TERMS)),
        )
    rows = [(int(b), int(n)) for b, n in res]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["bucket", "n_docs"])
    )


ORACLE_HISTOGRAM_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
)
SELECT CAST(floor(d.n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN matching m ON d.doc_id = m.doc_id
GROUP BY 1
ORDER BY 1
"""


def engine_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``stats`` aggregation through the ENGINE: count/sum/min/max/
    avg of the ``n_chars`` doc-value over the match set, merged from
    one bounded partial row per bucket."""
    from ..index import Bool, stats_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = stats_agg(
            spark, idx, "n_chars", query=Bool(must=" ".join(QUERY_TERMS))
        )
    row = [
        (
            int(res["count"]),
            float(res["sum"]),
            int(res["min"]),
            int(res["max"]),
            round(float(res["avg"]), 6),
        )
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            row, columns=["n_docs", "v_sum", "v_min", "v_max", "v_avg"]
        )
    )


ORACLE_STATS_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.n_chars) AS DOUBLE) AS v_sum,
       CAST(min(d.n_chars) AS BIGINT) AS v_min,
       CAST(max(d.n_chars) AS BIGINT) AS v_max,
       round(avg(d.n_chars), 6) AS v_avg
FROM documents d JOIN matching m ON d.doc_id = m.doc_id
"""


def engine_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``multi_match`` through the ENGINE (VERDICT r5 #5): one query
    text analyzed per field and scored against all four analyzer
    variants in ONE bucket pass — per-doc best_fields (max) AND
    most_fields (sum) combinations, each per-field space keeping its
    own df/avgdl (bug_version.json:294-303 is the reference's reason
    the sub-fields exist). The oracle recomputes every field's full
    BM25 table relationally and combines both ways."""
    from ..index import multi_match_search

    corpus = _gate_corpus(spark, sf_dir)
    with _gate_index(spark, corpus, extra_fields=FOUR_FIELDS) as idx:
        fields = ["content", *sorted(FOUR_FIELDS)]
        per_combine = {
            c: multi_match_search(
                spark, idx, SHINGLE_QUERY, fields, k=30, combine=c
            )
            for c in ("best_fields", "most_fields")
        }
    return spark.createDataFrame(_recut(corpus, per_combine, by="combine"))


def _multi_match_oracle() -> str:
    chains = {"content": "code_v1", **FOUR_FIELDS}
    ctes, unions = [], []
    for f in sorted(chains):
        terms = sorted(set(py_analyze(SHINGLE_QUERY, chains[f])))
        in_list = ",".join(f"'{t}'" for t in terms)
        ctes.append(f"""
tok_{f} AS (
  SELECT doc_id, unnest({duckdb_analyze_sql('text', chains[f])}) AS term FROM documents
),
tf_{f} AS (SELECT doc_id, term, count(*) AS tf FROM tok_{f} GROUP BY doc_id, term),
dl_{f} AS (SELECT doc_id, count(*) AS dl FROM tok_{f} GROUP BY doc_id),
stats_{f} AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl_{f}) AS sdl
),
dfx_{f} AS (
  SELECT term, count(*) AS df FROM tf_{f} WHERE term IN ({in_list}) GROUP BY term
),
sc_{f} AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
             * (tf.tf * ({K1} + 1.0))
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         ) AS score
  FROM tf_{f} tf
  JOIN dfx_{f} dfx ON tf.term = dfx.term
  JOIN dl_{f} dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats_{f} stats
  WHERE tf.term IN ({in_list})
  GROUP BY tf.doc_id
)""")
        unions.append(f"SELECT doc_id, score FROM sc_{f}")
    allsc = "\nUNION ALL\n".join(unions)
    return f"""
WITH {",".join(ctes)},
allsc AS ({allsc})
SELECT * FROM (
  SELECT 'best_fields' AS combine, doc_id, round(max(score), 6) AS score
  FROM allsc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10
)
UNION ALL
SELECT * FROM (
  SELECT 'most_fields' AS combine, doc_id, round(sum(score), 6) AS score
  FROM allsc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10
)
"""


ORACLE_MULTI_MATCH = _multi_match_oracle()


#: multi_match COMPOSED inside the bool DSL (round-6: VERDICT r5's
#: "multi_match inside Bool" gap): ONE query object carrying a
#: cross-field mm clause + must_not + filter forces the grouped
#: executor (the lone-mm fast path requires no negatives), so this
#: gates the composed path the standalone engine_multi_match entry
#: cannot reach
BOOL_MM_FIELDS = ("content", "shingled")
BOOL_MM_NOT = ["stream"]


def engine_bool_mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field ``multi_match`` as a clause of a composable ``Bool``
    through the ENGINE: {multi_match: "hash table merge" over
    (content, shingled), must_not: "stream", filter: lang='en'} —
    per-field analysis (the shingled variant sees bigram terms), each
    field its own df/avgdl space, most_fields (sum) combine over the
    satisfied fields, candidates from the cheapest live field's rarest
    terms, negatives and the docs-dimension predicate verified by
    membership probes (filter context — statistics untouched)."""
    from ..index import Bool, bool_search

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(
        spark, corpus, doc_attrs=ATTRS,
        extra_fields={"shingled": SHINGLE_CHAIN},
    ) as idx:
        q = Bool(
            multi_match=SHINGLE_QUERY,
            mm_fields=BOOL_MM_FIELDS,
            mm_combine="most_fields",
            must_not=BOOL_MM_NOT,
            filter=[("lang", "==", "en")],
        )
        res = bool_search(spark, idx, q, k=30)
    return spark.createDataFrame(_recut(corpus, res))


def _bool_mm_oracle() -> str:
    chains = {"content": "code_v1", "shingled": SHINGLE_CHAIN}
    neg_in = ",".join(f"'{t}'" for t in BOOL_MM_NOT)
    ctes, unions = [], []
    for f in sorted(chains):
        terms = sorted(set(py_analyze(SHINGLE_QUERY, chains[f])))
        in_list = ",".join(f"'{t}'" for t in terms)
        ctes.append(f"""
tok_{f} AS (
  SELECT doc_id, unnest({duckdb_analyze_sql('text', chains[f])}) AS term FROM documents
),
tf_{f} AS (SELECT doc_id, term, count(*) AS tf FROM tok_{f} GROUP BY doc_id, term),
dl_{f} AS (SELECT doc_id, count(*) AS dl FROM tok_{f} GROUP BY doc_id),
stats_{f} AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl_{f}) AS sdl
),
dfx_{f} AS (
  SELECT term, count(*) AS df FROM tf_{f} WHERE term IN ({in_list}) GROUP BY term
),
sc_{f} AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
             * (tf.tf * ({K1} + 1.0))
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
         ) AS score
  FROM tf_{f} tf
  JOIN dfx_{f} dfx ON tf.term = dfx.term
  JOIN dl_{f} dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats_{f} stats
  WHERE tf.term IN ({in_list})
  GROUP BY tf.doc_id
)""")
        unions.append(f"SELECT doc_id, score FROM sc_{f}")
    allsc = "\nUNION ALL\n".join(unions)
    return f"""
WITH {",".join(ctes)},
allsc AS ({allsc}),
neg AS (SELECT DISTINCT doc_id FROM tok_content WHERE term IN ({neg_in}))
SELECT a.doc_id, round(sum(a.score), 6) AS score
FROM allsc a
JOIN documents d ON a.doc_id = d.doc_id
WHERE d.lang = 'en' AND a.doc_id NOT IN (SELECT doc_id FROM neg)
GROUP BY a.doc_id
ORDER BY score DESC, a.doc_id
LIMIT 10
"""


ORACLE_BOOL_MM = _bool_mm_oracle()


def engine_agg_bool_mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms aggregation GATED by a Bool carrying a cross-field
    multi_match clause + must_not: facets run over exactly the set the
    composed bool+mm search would rank (the agg path shares
    _gate_survivors with the bool executor, now including per-field mm
    gate evaluation and cross-field pair-term bucket reads)."""
    from ..index import Bool, terms_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(
        spark, corpus, doc_attrs=ATTRS,
        extra_fields={"shingled": SHINGLE_CHAIN},
    ) as idx:
        res = terms_agg(
            spark, idx, "lang",
            query=Bool(
                multi_match=SHINGLE_QUERY,
                mm_fields=BOOL_MM_FIELDS,
                must_not=BOOL_MM_NOT,
            ),
            size=10,
        )
    return spark.createDataFrame(
        pd.DataFrame(res, columns=["value", "n_docs"])
    )


def _agg_bool_mm_oracle() -> str:
    chains = {"content": "code_v1", "shingled": SHINGLE_CHAIN}
    neg_in = ",".join(f"'{t}'" for t in BOOL_MM_NOT)
    ctes, unions = [], []
    for f in sorted(chains):
        terms = sorted(set(py_analyze(SHINGLE_QUERY, chains[f])))
        in_list = ",".join(f"'{t}'" for t in terms)
        ctes.append(f"""
atok_{f} AS (
  SELECT doc_id, unnest({duckdb_analyze_sql('text', chains[f])}) AS term FROM documents
)""")
        unions.append(
            f"SELECT DISTINCT doc_id FROM atok_{f} WHERE term IN ({in_list})"
        )
    hits = "\nUNION\n".join(unions)
    return f"""
WITH {",".join(ctes)},
matching AS ({hits}),
neg AS (SELECT DISTINCT doc_id FROM atok_content WHERE term IN ({neg_in}))
SELECT d.lang AS value, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN matching m ON d.doc_id = m.doc_id
WHERE d.doc_id NOT IN (SELECT doc_id FROM neg)
GROUP BY d.lang
ORDER BY n_docs DESC, value
LIMIT 10
"""


ORACLE_AGG_BOOL_MM = _agg_bool_mm_oracle()


def engine_terms_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms aggregation with a nested ``stats`` SUB-aggregation
    through the engine: per ``lang`` bucket over the match set, the
    match count plus count/sum/min/max/avg of the ``n_chars``
    doc-value — the "per product: volume + latency stats" dashboard
    facet. Partials stay one associative row per distinct key per
    bucket (sum/sum/min/max), so the sub-agg adds no wire volume."""
    from ..index import Bool, terms_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = terms_agg(
            spark, idx, "lang", query=Bool(must=" ".join(QUERY_TERMS)),
            size=10, sub_stats="n_chars",
        )
    rows = [
        (v, n, st["count"], float(st["sum"]), float(st["min"]),
         float(st["max"]), float(st["avg"]))
        for v, n, st in res
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["value", "n_docs", "v_count", "v_sum", "v_min",
                     "v_max", "v_avg"],
        )
    )


ORACLE_TERMS_STATS_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
)
SELECT d.lang AS value, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(d.n_chars) AS BIGINT) AS v_count,
       CAST(sum(d.n_chars) AS DOUBLE) AS v_sum,
       CAST(min(d.n_chars) AS DOUBLE) AS v_min,
       CAST(max(d.n_chars) AS DOUBLE) AS v_max,
       CAST(avg(d.n_chars) AS DOUBLE) AS v_avg
FROM documents d JOIN matching m ON d.doc_id = m.doc_id
GROUP BY d.lang
ORDER BY n_docs DESC, value
LIMIT 10
"""


def engine_cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``cardinality`` aggregation through the engine (exact path):
    distinct ``lang`` and distinct ``n_chars`` over the reference
    query's match set within a filter context. The per-bucket partial
    is the bucket's distinct-value set (bounded by local cardinality),
    deduplicated globally — the HLL sketch path for high-cardinality
    attrs shares the same gate machinery and is pytest-verified against
    its error envelope (no exact SQL oracle can pin an estimate)."""
    from ..index import Bool, cardinality_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        q = Bool(must=" ".join(QUERY_TERMS), filter=[("n_chars", ">=", 200)])
        card_lang = cardinality_agg(spark, idx, "lang", query=q)
        card_chars = cardinality_agg(spark, idx, "n_chars", query=q)
    return spark.createDataFrame(
        pd.DataFrame(
            [("lang", card_lang), ("n_chars", card_chars)],
            columns=["attr", "n_distinct"],
        )
    )


ORACLE_CARDINALITY_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
)
SELECT 'lang' AS attr, CAST(count(DISTINCT d.lang) AS BIGINT) AS n_distinct
FROM documents d JOIN matching m ON d.doc_id = m.doc_id
WHERE d.n_chars >= 200
UNION ALL
SELECT 'n_chars' AS attr, CAST(count(DISTINCT d.n_chars) AS BIGINT) AS n_distinct
FROM documents d JOIN matching m ON d.doc_id = m.doc_id
WHERE d.n_chars >= 200
"""


def engine_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES highlighting through the engine: index with
    ``store_source=True`` (the docs dimension carries _source), then for
    every document with table id < 300 count the query-term occurrences
    the highlighter marks. Non-shingle token spans can never abut (the
    tokenizer emits maximal runs), so the marked-span count equals the
    matched-token-occurrence count — which the DuckDB oracle recomputes
    from the same analyzer SQL. Fragment strings themselves are
    pytest-verified (tests/test_highlight.py); this gate pins the span
    DETECTION cross-engine."""
    from ..index import highlight_docs
    from ..index.build import prepare_docs

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(
        spark, corpus, doc_attrs=["orig_id"], store_source=True
    ) as idx:
        ids = (
            prepare_docs(corpus, 4)
            .filter(F.col("orig_id") < 300)
            .select("doc_id", "orig_id")
            .collect()
        )
        by_engine_id = {int(r["doc_id"]): int(r["orig_id"]) for r in ids}
        marked = highlight_docs(
            idx, list(by_engine_id), " ".join(QUERY_TERMS), fragment_size=0
        )
    rows = [
        (by_engine_id[d], frags[0].count("<em>"))
        for d, frags in marked.items()
        if frags
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["orig_id", "n_hits"])
    )


ORACLE_HIGHLIGHT = f"""
WITH {_TOK_CTE}
SELECT doc_id AS orig_id, CAST(count(*) AS BIGINT) AS n_hits
FROM tok
WHERE doc_id < 300 AND term IN ({_AGG_IN})
GROUP BY doc_id
"""


def engine_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi-aggregation request through the engine: terms + stats +
    cardinality over ONE query's match set in ONE pass (gate
    evaluation, postings reads and docs scan once per bucket; each agg
    ships its usual partial as an arrow-IPC payload row). The oracle
    recomputes all three facets from the same match set."""
    from ..index import Bool, multi_agg

    corpus = _gate_corpus(spark, sf_dir, *ATTR_COLS)
    with _gate_index(spark, corpus, doc_attrs=ATTRS) as idx:
        res = multi_agg(
            spark, idx,
            {
                "by_lang": {"kind": "terms", "attr": "lang", "size": 10},
                "chars": {"kind": "stats", "attr": "n_chars"},
                "n_langs": {"kind": "cardinality", "attr": "lang"},
            },
            query=Bool(must=" ".join(QUERY_TERMS)),
        )
    rows = [("terms", str(v), int(n), None) for v, n in res["by_lang"]]
    st = res["chars"]
    rows.append(("stats", "n_chars", int(st["count"]), float(st["sum"])))
    rows.append(("card", "lang", int(res["n_langs"]), None))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["part", "key", "n", "v"]).astype(
            {"v": "float64"}
        )
    )


ORACLE_MULTI_AGG = f"""
WITH {_TOK_CTE},
matching AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({_AGG_IN})
),
md AS (
  SELECT d.* FROM documents d JOIN matching m ON d.doc_id = m.doc_id
)
SELECT * FROM (
  SELECT 'terms' AS part, lang AS key, CAST(count(*) AS BIGINT) AS n,
         CAST(NULL AS DOUBLE) AS v
  FROM md GROUP BY lang ORDER BY n DESC, key LIMIT 10
)
UNION ALL
SELECT 'stats', 'n_chars', CAST(count(n_chars) AS BIGINT),
       CAST(sum(n_chars) AS DOUBLE) FROM md
UNION ALL
SELECT 'card', 'lang', CAST(count(DISTINCT lang) AS BIGINT),
       CAST(NULL AS DOUBLE) FROM md
"""


QUERIES = {
    "ft_term_postings": ft_term_postings,
    "ft_doc_stats": ft_doc_stats,
    "ft_bm25_top10": ft_bm25_top10,
    "ft_bm25_hot_term": ft_bm25_hot_term,
    "ft_bm25_shingled": ft_bm25_shingled,
    "ft_bm25_conjunctive": ft_bm25_conjunctive,
    "engine_bm25_dual_field": engine_bm25_dual_field,
    "engine_bm25_filtered": engine_bm25_filtered,
    "engine_bm25_must_not": engine_bm25_must_not,
    "engine_scroll_export": engine_scroll_export,
    "engine_rescore": engine_rescore,
    "engine_mlt": engine_mlt,
    "engine_percolate": engine_percolate,
    "engine_term_suggest": engine_term_suggest,
    "engine_complete_suggest": engine_complete_suggest,
    "engine_bm25_conjunctive": engine_bm25_conjunctive,
    "engine_bm25_msm": engine_bm25_msm,
    "engine_bm25_prefix": engine_bm25_prefix,
    "engine_bm25_wildcard": engine_bm25_wildcard,
    "engine_bm25_regexp": engine_bm25_regexp,
    "engine_bm25_fuzzy": engine_bm25_fuzzy,
    "engine_phrase_top10": engine_phrase_top10,
    "engine_phrase_filtered": engine_phrase_filtered,
    "engine_phrase_slop_top10": engine_phrase_slop_top10,
    "engine_phrase_freq_top10": engine_phrase_freq_top10,
    "engine_bm25_four_field": engine_bm25_four_field,
    "engine_filter_only": engine_filter_only,
    "engine_sorted_page": engine_sorted_page,
    "engine_collapse": engine_collapse,
    "engine_bool_dsl": engine_bool_dsl,
    "engine_query_string": engine_query_string,
    "engine_match_phrase_prefix": engine_match_phrase_prefix,
    "engine_bool_boosted": engine_bool_boosted,
    "engine_boosting_query": engine_boosting_query,
    "engine_function_score": engine_function_score,
    "engine_composite_agg": engine_composite_agg,
    "engine_filters_agg": engine_filters_agg,
    "engine_adjacency_matrix_agg": engine_adjacency_matrix_agg,
    "engine_sig_text_agg": engine_sig_text_agg,
    "engine_msearch": engine_msearch,
    "engine_alias_fanout": engine_alias_fanout,
    "engine_knn": engine_knn,
    "engine_hybrid_rrf": engine_hybrid_rrf,
    "engine_terms_agg": engine_terms_agg,
    "engine_top_hits_agg": engine_top_hits_agg,
    "engine_range_agg": engine_range_agg,
    "engine_percentiles_agg": engine_percentiles_agg,
    "engine_sig_terms_agg": engine_sig_terms_agg,
    "engine_date_histogram_agg": engine_date_histogram_agg,
    "engine_stats_agg": engine_stats_agg,
    "engine_histogram_agg": engine_histogram_agg,
    "engine_multi_match": engine_multi_match,
    "engine_bool_mm": engine_bool_mm,
    "engine_agg_bool_mm": engine_agg_bool_mm,
    "engine_terms_stats_agg": engine_terms_stats_agg,
    "engine_cardinality_agg": engine_cardinality_agg,
    "engine_highlight": engine_highlight,
    "engine_multi_agg": engine_multi_agg,
}

ORACLE = {
    "ft_term_postings": ORACLE_POSTINGS,
    "ft_doc_stats": ORACLE_DOC_STATS,
    "ft_bm25_top10": ORACLE_BM25,
    "ft_bm25_hot_term": ORACLE_BM25_HOT,
    "ft_bm25_shingled": ORACLE_BM25_SHINGLED,
    "ft_bm25_conjunctive": ORACLE_BM25_AND,
    "engine_bm25_dual_field": ORACLE_DUAL_FIELD,
    "engine_bm25_filtered": ORACLE_FILTERED,
    "engine_bm25_must_not": ORACLE_MUST_NOT,
    "engine_scroll_export": ORACLE_SCROLL,
    "engine_rescore": ORACLE_RESCORE,
    "engine_mlt": ORACLE_MLT,
    "engine_percolate": ORACLE_PERCOLATE,
    "engine_term_suggest": ORACLE_TERM_SUGGEST,
    "engine_complete_suggest": ORACLE_COMPLETE_SUGGEST,
    "engine_bm25_conjunctive": ORACLE_BM25_AND,
    "engine_bm25_msm": ORACLE_MSM,
    "engine_bm25_prefix": ORACLE_PREFIX,
    "engine_bm25_wildcard": ORACLE_WILDCARD,
    "engine_bm25_regexp": ORACLE_REGEXP,
    "engine_bm25_fuzzy": ORACLE_FUZZY,
    "engine_phrase_top10": ORACLE_PHRASE,
    "engine_phrase_filtered": ORACLE_PHRASE_FILTERED,
    "engine_phrase_slop_top10": ORACLE_PHRASE_SLOP,
    "engine_phrase_freq_top10": ORACLE_PHRASE_FREQ,
    "engine_bm25_four_field": ORACLE_FOUR_FIELD,
    "engine_filter_only": ORACLE_FILTER_ONLY,
    "engine_sorted_page": ORACLE_SORTED_PAGE,
    "engine_collapse": ORACLE_COLLAPSE,
    "engine_bool_dsl": ORACLE_BOOL_DSL,
    "engine_query_string": ORACLE_QUERY_STRING,
    "engine_match_phrase_prefix": ORACLE_MPP,
    "engine_bool_boosted": ORACLE_BOOL_BOOSTED,
    "engine_boosting_query": ORACLE_BOOSTING,
    "engine_function_score": ORACLE_FUNCTION_SCORE,
    "engine_composite_agg": ORACLE_COMPOSITE_AGG,
    "engine_filters_agg": ORACLE_FILTERS_AGG,
    "engine_adjacency_matrix_agg": ORACLE_ADJACENCY_AGG,
    "engine_sig_text_agg": ORACLE_SIG_TEXT,
    "engine_msearch": ORACLE_MSEARCH,
    "engine_alias_fanout": ORACLE_ALIAS,
    "engine_knn": ORACLE_KNN,
    "engine_hybrid_rrf": ORACLE_HYBRID_RRF,
    "engine_terms_agg": ORACLE_TERMS_AGG,
    "engine_top_hits_agg": ORACLE_TOP_HITS_AGG,
    "engine_range_agg": ORACLE_RANGE_AGG,
    "engine_percentiles_agg": ORACLE_PERCENTILES_AGG,
    "engine_sig_terms_agg": ORACLE_SIG_TERMS_AGG,
    "engine_date_histogram_agg": ORACLE_DATE_HISTOGRAM_AGG,
    "engine_stats_agg": ORACLE_STATS_AGG,
    "engine_histogram_agg": ORACLE_HISTOGRAM_AGG,
    "engine_multi_match": ORACLE_MULTI_MATCH,
    "engine_bool_mm": ORACLE_BOOL_MM,
    "engine_agg_bool_mm": ORACLE_AGG_BOOL_MM,
    "engine_terms_stats_agg": ORACLE_TERMS_STATS_AGG,
    "engine_cardinality_agg": ORACLE_CARDINALITY_AGG,
    "engine_highlight": ORACLE_HIGHLIGHT,
    "engine_multi_agg": ORACLE_MULTI_AGG,
}
