"""Index build: tokenize -> postings -> SPIMI encode -> immutable segment.

Reference parity (see SURVEY.md §7.0):
- the ten-scan + flatten front end (bugzilla_to_json.ktr:440-648) becomes
  one corpus scan + vectorized tokenization exploded to postings EAV
  ``(term, doc_id, tf)``;
- the manual bug_id range partitioning (bin/import_bugs.sh:36-40) becomes
  doc-space sharding (``shard = pmod(doc_id, n_shards)``) with optional
  shard-batched builds, plus term-hash bucketing (``tb``) for query-side
  partition pruning and doc-salting (``n_salts``) to bound encoder group
  memory under hot-term skew;
- the per-group stateful replay (parse_bug_history.js) becomes the
  per-partition SPIMI encoder: ``groupBy(shard, tb, salt).applyInPandas``
  emitting delta-gap + varint blocks with per-block max-impact metadata;
- the ES bulk sink + alias swap (bugzilla_to_json.ktr:1094-1277,
  bin/import_bugs.sh:21-23) becomes immutable parquet segment shards +
  an atomically-committed manifest;
- the watermark/retry machinery (§3.2) becomes per-batch checkpoints in
  the manifest: a killed build resumes, skipping completed batches.

Layout per segment::

    <index_dir>/segments/<seg_id>/
        postings/shard=K/tb=J/*.parquet   # block rows (see BLOCK_SCHEMA)
        docs/shard=K/*.parquet            # doc dimension incl. sha256
        dict/*.parquet                    # (term, df, tb)

Scale notes (100 TB / 1000 executors): the only wide shuffles are the
(term, doc) partial-agg groupBy (map-side combine — each doc's tokens
live in one partition, so the combiner collapses almost everything
before the exchange) and the applyInPandas group shuffle keyed on
(shard, tb, salt) — cardinality n_shards*n_tb*n_salts, chosen >> executor
count; no driver-side collect of data anywhere in the build.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark.sql import Observation

from ..codec import (
    doc_id_to_u64,
    u64_to_doc_id,
    varint_encode_segmented,
)
from ..tokenize import (
    pandas_analyze,
    py_term_bucket,
    spark_analyze,
)
from .bloom import SegmentBlooms, write_segment_blooms
from .manifest import IndexManifest

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("tb", T.IntegerType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("block_id", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("max_impact", T.DoubleType()),
        T.StructField("gaps", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("dls", T.BinaryType()),
        # OPTIONAL positional payload (build_index(positions=True)):
        # per posting, that doc's term positions as within-doc varint
        # deltas (first absolute), concatenated in posting order — the
        # posting's tf IS the position count, so no extra length table.
        # NULL for non-positional builds/fields; phrase queries verify
        # adjacency from these (Lucene match_phrase parity — the
        # reference's shingle filters only approximate bigram adjacency,
        # configuration/es/bug_version.json:26-35).
        T.StructField("poss", T.BinaryType()),
    ]
)

DOCS_COLS = ["doc_id", "repo", "path", "commit", "lang", "doc_len", "sha256", "shard"]

#: the implicit primary field every index has; extra named field
#: variants (the reference's one-field-indexed-four-ways model,
#: configuration/es/bug_version.json:4-35,294-303) re-analyze the same
#: content through their own chain and live in the same segments
DEFAULT_FIELD = "content"


def _extra_len_col(fld: str) -> str:
    return f"doc_len__{fld}"


def docs_cols(
    extra_fields: dict[str, str] | None,
    doc_attrs: list[str] | None = None,
    store_source: bool = False,
) -> list[str]:
    return (
        DOCS_COLS
        + [_extra_len_col(f) for f in sorted(extra_fields or {})]
        + [a for a in (doc_attrs or []) if a not in DOCS_COLS]
        + (["content"] if store_source else [])
    )


def read_segment_union(spark: SparkSession, seg_dirs: list[str], sub: str) -> DataFrame:
    """Union one sub-table (docs/postings/dict) across segment dirs.

    Segments are separate partitioned roots; Spark requires loading them
    separately and unioning (partition discovery is per-root). The
    ``batch`` publish-dir partition column is internal and dropped.
    Legacy segments written before multi-field indexing lack the
    ``field`` column; their rows are the primary 'content' field, added
    here so legacy and current segments union (and merge) cleanly."""
    parts = []
    for d in seg_dirs:
        p = spark.read.parquet(os.path.join(d, sub))
        if "batch" in p.columns:
            p = p.drop("batch")
        if sub in ("postings", "dict") and "field" not in p.columns:
            p = p.withColumn("field", F.lit(DEFAULT_FIELD))
        if sub == "postings" and "poss" not in p.columns:
            # segments written before positional support: null payload
            p = p.withColumn("poss", F.lit(None).cast("binary"))
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------- stages
def _make_count_tokens(chain: str):
    @F.pandas_udf(T.IntegerType())
    def _count(texts: pd.Series) -> pd.Series:
        """Vectorized analyzed-token COUNT — cheap doc_len for the docs
        dimension. The plain chain counts regex matches without
        materializing token lists; filtered/shingled chains run the
        shared pandas analyzer."""
        if chain == "code_v1":
            from ..tokenize import TOKEN_RE

            return texts.str.lower().str.count(TOKEN_RE).astype("int32")
        if chain == "path_v1":
            from ..tokenize import PATH_TOKEN_RE

            return texts.str.lower().str.count(PATH_TOKEN_RE).astype("int32")
        from ..tokenize import pandas_analyze as _pa

        return _pa(texts, chain).map(len).astype("int32")

    return _count


def _bad_row_col():
    """A corpus row the sink must REJECT (and count): null identity key
    (xxhash64 would silently hash the remaining columns — id collisions)
    or null content (nothing to index). The per-item failure taxonomy of
    the reference's bulk sink (bugzilla_to_json.ktr:1158-1168)."""
    return (
        F.col("repo").isNull()
        | F.col("path").isNull()
        | F.col("commit").isNull()
        | F.col("content").isNull()
    )


def prepare_docs(
    df: DataFrame,
    n_shards: int,
    tokenizer: str = "arrow",
    analyzer: str = "code_v1",
    extra_fields: dict[str, str] | None = None,
) -> DataFrame:
    """corpus (repo,path,commit,lang,content) -> + doc_id, sha256,
    doc_len, shard.

    ``doc_id = xxhash64(repo, path, commit)`` (content-addressed identity —
    the analog of the reference's deterministic ES doc id
    ``bug_id + "." + modified_ts``, parse_bug_history.js:168).
    ``sha256`` is the per-row invariant column (BASELINE.json input_hint).

    tokenizer='arrow': vectorized regex-count Arrow UDF for doc_len.
    tokenizer='builtin': JVM split path (identical token semantics,
    proven in tests/test_tokenize.py).
    """
    def _len_for(chain: str):
        if tokenizer == "arrow":
            # plain chains: the analyzed-token COUNT is exactly the
            # regex match count, computable JVM-side with regexp_count —
            # no ArrowEvalPython node in the docs pass at all (guide §4:
            # built-ins over UDFs; the values are identical to the
            # pandas str.count the Arrow UDF computed). Filtered/shingled
            # chains still need the shared pandas analyzer.
            if chain == "code_v1":
                from ..tokenize import TOKEN_PATTERN

                return F.regexp_count(
                    F.lower(F.col("content")), F.lit(TOKEN_PATTERN)
                ).cast("int")
            if chain == "path_v1":
                from ..tokenize import PATH_TOKEN_PATTERN

                return F.regexp_count(
                    F.lower(F.col("content")), F.lit(PATH_TOKEN_PATTERN)
                ).cast("int")
            return _make_count_tokens(chain)(F.col("content"))
        if tokenizer == "builtin":
            return F.size(spark_analyze(F.col("content"), chain))
        raise ValueError(f"unknown tokenizer {tokenizer!r}")

    out = (
        df.withColumn("doc_len", _len_for(analyzer))
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .withColumn("sha256", F.sha2("content", 256))
        .withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int"))
    )
    for fld in sorted(extra_fields or {}):
        out = out.withColumn(_extra_len_col(fld), _len_for(extra_fields[fld]))
    return out


def _impact(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _blocks_frame(
    shard: int,
    salt: int,
    fld: str,
    cg: np.ndarray,
    uniq_terms: np.ndarray,
    tb_per_term: np.ndarray,
    du: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    imp: np.ndarray,
    block_size: int,
    pos_gaps: np.ndarray | None = None,
) -> pd.DataFrame:
    """Vectorized block assembly for one encoder group.

    Inputs are the group's postings sorted by (term code, doc_u64);
    ``cg`` holds per-posting codes into the SORTED vocab ``uniq_terms``.
    Block segmentation, delta-gaps, per-block varint buffers, and
    max-impact metadata are all whole-group numpy passes — no per-block
    Python loop (per-block varint calls measured ~60% of encode time).
    Output rows are ordered (term, block_id): identical bytes and order
    to the per-block encoder it replaces (checksum-verified)."""
    change = np.empty(len(cg), dtype=bool)
    change[0] = True
    change[1:] = cg[1:] != cg[:-1]
    starts = np.flatnonzero(change)
    ends = np.r_[starts[1:], len(cg)]

    # per-term block counts -> global (block_start, block_end, term, id)
    reps = -(-(ends - starts) // block_size)  # ceil-div
    term_of_block = np.repeat(np.arange(len(starts)), reps)
    b_idx = np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
    block_start = starts[term_of_block] + block_size * b_idx
    block_end = np.minimum(block_start + block_size, ends[term_of_block])

    # block-local delta gaps: elementwise diff with a reset at each
    # block's first posting (the absolute doc id)
    gaps = np.empty_like(du)
    gaps[0] = du[0]
    np.subtract(du[1:], du[:-1], out=gaps[1:])
    gaps[block_start] = du[block_start]

    gap_bufs = varint_encode_segmented(gaps, block_start)
    tf_bufs = varint_encode_segmented(tf.astype(np.uint64), block_start)
    dl_bufs = varint_encode_segmented(dl.astype(np.uint64), block_start)
    if pos_gaps is not None:
        # positions live in the flat token space: posting p owns the
        # tf[p] entries starting at cumsum(tf)[p-1] — block boundaries
        # map through that cumsum, so the whole group's positions
        # varint-encode in ONE segmented pass like gaps/tfs/dls
        flat_starts = np.concatenate(([0], np.cumsum(tf)))
        pos_bufs = varint_encode_segmented(
            pos_gaps.astype(np.uint64), flat_starts[block_start]
        )
    else:
        pos_bufs = [None] * len(block_start)
    bmax = np.maximum.reduceat(imp, block_start)
    first = u64_to_doc_id(du[block_start])
    last = u64_to_doc_id(du[block_end - 1])
    term_codes = cg[block_start]
    return pd.DataFrame(
        {
            "shard": np.full(len(block_start), shard, dtype=np.int32),
            "tb": tb_per_term[term_codes].astype(np.int32),
            "salt": np.full(len(block_start), salt, dtype=np.int32),
            "field": np.full(len(block_start), fld, dtype=object),
            "term": uniq_terms[term_codes],
            "block_id": b_idx.astype(np.int32),
            "n": (block_end - block_start).astype(np.int32),
            "first_doc": first,
            "last_doc": last,
            "max_impact": bmax,
            "gaps": gap_bufs,
            "tfs": tf_bufs,
            "dls": dl_bufs,
            "poss": pos_bufs,
        }
    )


def _make_encoder(avgdl_by_field: dict[str, float], k1: float, b: float, block_size: int):
    """SPIMI block encoder for one (field, shard, tb, salt) group.

    Deterministic output (the stabilize() discipline,
    parse_bug_history.js:671-678): postings sorted by (term, doc_u64),
    blocks emitted in (term, block_id) order. Impacts use the group's
    FIELD avgdl — each field variant is its own BM25 space.

    An optional ``positions`` column (object array of per-posting sorted
    position arrays — the merge path of positional segments) re-encodes
    into the block poss payload.
    """

    def encode(key, pdf):  # (key, pd.DataFrame) -> pd.DataFrame; unannotated: future-annotations strings defeat pyspark hint inference
        fld, shard, tb, salt = str(key[0]), int(key[1]), int(key[2]), int(key[3])
        du = doc_id_to_u64(pdf["doc_id"].to_numpy())
        codes, uniq_terms = pd.factorize(pdf["term"].to_numpy(), sort=True)
        order = np.lexsort((du, codes))
        cg = codes[order]
        du = du[order]
        tf = pdf["tf"].to_numpy()[order].astype(np.int64)
        dl = pdf["doc_len"].to_numpy()[order].astype(np.int64)
        imp = _impact(tf, dl, avgdl_by_field[fld], k1, b)
        uniq_terms = np.asarray(uniq_terms, dtype=object)
        tb_per_term = np.full(len(uniq_terms), tb, dtype=np.int64)
        pos_gaps = None
        if "positions" in pdf.columns:
            plists = pdf["positions"].to_numpy()[order]
            flat = (
                np.concatenate(plists).astype(np.int64)
                if len(plists)
                else np.empty(0, dtype=np.int64)
            )
            starts = np.concatenate(([0], np.cumsum(tf)))[:-1]
            pos_gaps = np.empty(len(flat), dtype=np.int64)
            if len(flat):
                pos_gaps[0] = flat[0]
                np.subtract(flat[1:], flat[:-1], out=pos_gaps[1:])
                pos_gaps[starts] = flat[starts]
        return _blocks_frame(
            shard, salt, fld, cg, uniq_terms, tb_per_term, du, tf, dl, imp,
            block_size, pos_gaps,
        )

    return encode


def _make_spimi_encoder(
    avgdl_by_field: dict[str, float],
    field_chains: dict[str, str],
    k1: float,
    b: float,
    block_size: int,
    n_tb: int,
    positions_fields: frozenset[str] = frozenset(),
):
    """The fused SPIMI run-builder: one (shard, salt) group of RAW docs
    in -> encoded posting blocks out, all inside a single Arrow stage
    (tokenize -> term-count -> sort -> delta+varint encode).

    This is the scale-critical design choice: the only wide JVM shuffle
    in the whole build moves raw corpus rows (grouped by doc-shard);
    token/posting granularity never crosses the JVM/Python boundary.
    The (shard, salt) group is the SPIMI "memory run": size it via
    n_shards*n_salts so a run fits a worker (256MB-1GB at cluster
    scale). Mirrors the reference's per-group stateful replay step
    (parse_bug_history.js via bugzilla_to_json.ktr:1325-1375).

    Multi-field (the reference's one-field-indexed-N-ways model): every
    field variant is analyzed and encoded INSIDE the same group — the
    corpus rows cross the JVM/Python boundary once however many field
    variants the index carries.
    """

    def _one_field(shard, salt, fld, content, du_all):
        avgdl = avgdl_by_field[fld]
        token_lists = pandas_analyze(content, field_chains[fld])
        lens = np.fromiter((len(t) for t in token_lists), dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return None
        flat_terms = np.concatenate(
            [np.asarray(t, dtype=object) for t in token_lists if t]
        )
        flat_du = np.repeat(du_all, lens)
        flat_dl = np.repeat(lens, lens)
        # (term, doc) partial aggregation WITHOUT an object-dtype pandas
        # groupby: factorize hashes each string once (sort=True gives the
        # same lexicographic term order as the old sorted groupby), then
        # an integer lexsort + run-length reduction does the tf count —
        # ~2-3x less allocation/bandwidth per SPIMI run, which is what
        # the 2->8 core build scaling is bound by on commodity hosts
        codes, uniq_terms = pd.factorize(flat_terms, sort=True)
        order = np.lexsort((flat_du, codes))
        c = codes[order]
        d = flat_du[order]
        dls = flat_dl[order]
        new = np.empty(len(c), dtype=bool)
        new[0] = True
        new[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
        gstarts = np.flatnonzero(new)
        tf = np.diff(np.r_[gstarts, len(c)]).astype(np.int64)
        cg = c[gstarts]
        du = d[gstarts]
        dl = dls[gstarts].astype(np.int64)
        imp = _impact(tf, dl, avgdl, k1, b)

        pos_gaps = None
        if fld in positions_fields:
            # within-doc token index per slot, carried through the SAME
            # lexsort: np.lexsort is stable, so a (term, doc) run keeps
            # its positions ascending — delta-encode with a reset at
            # every posting start, one whole-group pass
            flat_pos = np.arange(total, dtype=np.int64) - np.repeat(
                np.cumsum(lens) - lens, lens
            )
            p = flat_pos[order]
            pos_gaps = np.empty(total, dtype=np.int64)
            pos_gaps[0] = p[0]
            np.subtract(p[1:], p[:-1], out=pos_gaps[1:])
            pos_gaps[gstarts] = p[gstarts]

        uniq_terms = np.asarray(uniq_terms, dtype=object)
        tb_per_term = np.fromiter(
            (py_term_bucket(t, n_tb) for t in uniq_terms),
            dtype=np.int64,
            count=len(uniq_terms),
        )
        return _blocks_frame(
            shard, salt, fld, cg, uniq_terms, tb_per_term, du, tf, dl, imp,
            block_size, pos_gaps,
        )

    def run(key, pdf):  # (key, pd.DataFrame) -> pd.DataFrame
        shard, salt = int(key[0]), int(key[1])
        du_all = doc_id_to_u64(pdf["doc_id"].to_numpy())
        outs = [
            _one_field(shard, salt, fld, pdf["content"], du_all)
            for fld in sorted(field_chains)
        ]
        outs = [o for o in outs if o is not None]
        if not outs:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in BLOCK_SCHEMA.fields}
            ).iloc[:0]
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    return run


def spimi_encode(
    corpus_batch: DataFrame,
    avgdl_by_field: dict[str, float],
    field_chains: dict[str, str],
    k1: float,
    b: float,
    block_size: int,
    n_tb: int,
    n_salts: int,
    positions_fields: frozenset[str] = frozenset(),
) -> DataFrame:
    """Raw docs -> encoded blocks (all field variants) in one grouped
    Arrow stage."""
    with_salt = corpus_batch.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(n_salts)).cast("int")
    )
    return with_salt.select("shard", "salt", "doc_id", "content").groupBy(
        "shard", "salt"
    ).applyInPandas(
        _make_spimi_encoder(
            avgdl_by_field, field_chains, k1, b, block_size, n_tb,
            positions_fields,
        ),
        schema=BLOCK_SCHEMA,
    )


# ----------------------------------------------------------- full build
def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    n_shards: int = 8,
    n_tb: int = 8,
    n_salts: int = 1,
    n_sb: int | None = None,
    tokenizer: str = "arrow",
    analyzer: str = "code_v1",
    block_size: int = 128,
    shard_batches: int = 1,
    k1: float = 1.2,
    b: float = 0.75,
    resume: bool = True,
    max_batches: int | None = None,
    extra_fields: dict[str, str] | None = None,
    doc_attrs: list[str] | None = None,
    positions: bool | list[str] = False,
    store_source: bool = False,
) -> IndexManifest:
    """Build the initial segment; resumable per shard-batch.

    ``shard_batches > 1`` reproduces the reference's range-batched driver
    loop (bin/import_bugs.sh:36-40): each batch scans/builds only its
    shard subset and commits a checkpoint; a killed run resumes from the
    first unfinished batch (``max_batches`` exists to simulate the kill
    in tests). At cluster scale the corpus scan per batch prunes by the
    source table's own partitioning.

    ``extra_fields``: named field variants ({field_name: analyzer_chain})
    indexed ALONGSIDE the primary ``content`` field from the same corpus
    scan — the reference's one-field-indexed-four-ways model
    (configuration/es/bug_version.json:4-35,294-303: words/tokens
    tokenizers x plain/shingled, queryable per sub-field). Each variant
    has its own postings, df, dl and avgdl (its own BM25 space);
    ``search_many(..., field=...)`` selects the variant at query time.
    """
    m = IndexManifest.load_or_new(
        index_dir,
        k1=k1,
        b=b,
        n_shards=n_shards,
        n_tb=n_tb,
        n_salts=n_salts,
        n_sb=min(n_shards, 16) if n_sb is None else n_sb,
        block_size=block_size,
        tokenizer=f"{analyzer}:{tokenizer}",
        fields=dict(extra_fields or {}),
        doc_attrs=list(doc_attrs or []),
        positions=(
            sorted(positions) if isinstance(positions, (list, tuple, set))
            else bool(positions)
        ),
        store_source=bool(store_source),
    )
    if m.segments and not m.checkpoints:
        raise ValueError(f"{index_dir} already has a committed build; use incremental_update")
    # positions over a SHINGLED chain are almost always a mistake: the
    # shingle tokens already encode bigram adjacency, a "phrase" of
    # shingles is ill-defined, and the payload roughly doubles the
    # field's block bytes — warn loudly, don't forbid (the analyzer
    # chain is the user's contract)
    shingled_pos = [
        f for f in m.positions_fields()
        if "shingle" in (m.fields.get(f) or (m.tokenizer.split(":", 1)[0] if f == "content" else ""))
    ]
    if shingled_pos:
        import warnings

        warnings.warn(
            f"positions requested for shingled field(s) {shingled_pos}: the "
            "shingle chain already encodes bigram adjacency; the positional "
            "payload adds block bytes with no phrase-query benefit",
            stacklevel=2,
        )

    # Cache-free two-pass design: caching the tokenized frame (big
    # array<struct> columns) caused progressive GC storms in long
    # sessions; tokenizing twice (docs pass + postings pass) is cheaper
    # and has flat memory. Pass 1 writes the docs dimension; corpus
    # stats then come from the written parquet (cheap scan); pass 2
    # encodes postings using the global avgdl.
    prepared = prepare_docs(
        corpus, n_shards, tokenizer=tokenizer, analyzer=analyzer,
        extra_fields=m.fields,
    )
    # record each doc_attr's Spark type (the dynamic-template typing
    # discipline, bug_version.json:40-66): query-time predicates are
    # validated against these so a string-typed ts column can't
    # range-compare lexicographically (VERDICT r4 #6)
    if m.doc_attrs:
        dt = dict(prepared.dtypes)
        m.doc_attr_types = {a: dt[a] for a in m.doc_attrs}
    extra = sorted(m.fields)
    seg_id = "seg00000"
    seg_dir = os.path.join(index_dir, "segments", seg_id)
    shard_groups = [list(range(n_shards))[i::shard_batches] for i in range(shard_batches)]

    def batch_of(shards):
        if shard_batches == 1:
            return prepared
        return prepared.filter(F.col("shard").isin(shards))

    done_work = 0
    for bi, shards in enumerate(shard_groups):
        key = f"docs{bi}"
        if key in m.checkpoints:
            continue
        if max_batches is not None and done_work >= max_batches:
            return m  # simulated kill: manifest holds the resume point
        t0 = time.monotonic()
        # corpus stats piggyback on the write via observe() — no second
        # pass over the docs dimension (fold docs+stats into one job).
        # Invalid rows (null identity keys / null content) are COUNTED
        # by the same observation and EXCLUDED from the segment — the
        # per-batch failure channel of the reference's bulk indexer
        # (bugzilla_to_json.ktr:1158-1168): a partially-bad corpus
        # surfaces in the manifest lineage, not only in executor logs.
        obs = Observation(f"docs_stats_{bi}")
        good = ~_bad_row_col()
        # shard-cluster rows within files (shuffle-free sortWithinPartitions):
        # the filtered-search bucket scan filters on shard ISIN + predicate,
        # and shard-homogeneous row groups let parquet min/max stats prune
        _atomic_write(
            batch_of(shards)
            .observe(
                obs,
                F.count(F.when(good, F.lit(1))).alias("n"),
                F.sum(F.when(good, F.col("doc_len"))).alias("s"),
                *[
                    F.sum(F.when(good, F.col(_extra_len_col(f)))).alias(f"s__{f}")
                    for f in extra
                ],
                F.count(F.when(~good, F.lit(1))).alias("bad"),
            )
            .filter(good)
            .select(*docs_cols(m.fields, m.doc_attrs, m.store_source))
            .sortWithinPartitions("shard"),
            os.path.join(seg_dir, "docs"),
            bi,
        )
        row = obs.get
        m.checkpoints[key] = {
            "shards": shards,
            "elapsed_s": round(time.monotonic() - t0, 3),
            "n": int(row["n"]),
            "s": int(row["s"] or 0),
            **{f"s__{f}": int(row[f"s__{f}"] or 0) for f in extra},
            "row_errors": int(row["bad"]),
        }
        m.commit(index_dir)
        done_work += 1

    if "stats" not in m.checkpoints:
        docs_cps = [v for k, v in m.checkpoints.items() if k.startswith("docs")]
        if all("n" in v for v in docs_cps):
            n_docs = sum(v["n"] for v in docs_cps)
            sum_dl = sum(v["s"] for v in docs_cps)
            field_sums = {f: sum(v[f"s__{f}"] for v in docs_cps) for f in extra}
        else:  # resume from a checkpoint written before observe-folding
            stats = (
                spark.read.parquet(os.path.join(seg_dir, "docs"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("doc_len").alias("s"),
                    *[F.sum(_extra_len_col(f)).alias(f"s__{f}") for f in extra],
                )
                .collect()[0]
            )
            n_docs, sum_dl = int(stats["n"]), int(stats["s"] or 0)
            field_sums = {f: int(stats[f"s__{f}"] or 0) for f in extra}
        m.checkpoints["stats"] = {
            "n_docs": n_docs,
            "sum_doc_len": sum_dl,
            "field_sums": field_sums,
        }
        m.commit(index_dir)
    n_docs = m.checkpoints["stats"]["n_docs"]
    avgdl = m.checkpoints["stats"]["sum_doc_len"] / n_docs if n_docs else 1.0
    avgdl_by_field = {DEFAULT_FIELD: avgdl}
    for f in extra:
        s_f = m.checkpoints["stats"].get("field_sums", {}).get(f, 0)
        avgdl_by_field[f] = s_f / n_docs if n_docs else 1.0

    for bi, shards in enumerate(shard_groups):
        key = f"batch{bi}"
        if key in m.checkpoints:
            continue
        if max_batches is not None and done_work >= max_batches:
            return m
        t0 = time.monotonic()
        lineage = _build_batch(batch_of(shards), seg_dir, m, avgdl_by_field, batch_id=bi)
        lineage.update(
            {"shards": shards, "elapsed_s": round(time.monotonic() - t0, 3)}
        )
        lineage["postings_per_s"] = round(
            lineage["postings"] / max(lineage["elapsed_s"], 1e-9), 1
        )
        m.checkpoints[key] = lineage
        m.commit(index_dir)
        done_work += 1

    # finalize: term dictionary from the written blocks + bloom sidecar
    # (docs-id + term membership pruning), then promote checkpoints to
    # the committed segment (alias swap). Small builds (the same <=2M-doc
    # threshold the incremental path and the bloom sidecar already use)
    # take the driver-side pyarrow dict: one column read + groupby vs a
    # full Spark read+agg+sort+write job (~0.5-0.7s of fixed job cost at
    # bench scale); large builds keep the distributed route.
    n_terms = _write_dict(
        spark, seg_dir, small=m.checkpoints["stats"]["n_docs"] <= 2_000_000
    )
    write_segment_blooms(
        spark, seg_dir, n_shards,
        n_docs_hint=m.checkpoints["stats"]["n_docs"], n_terms_hint=n_terms,
    )
    batch_lineage = {k: v for k, v in m.checkpoints.items() if k.startswith("batch")}
    row_errors = sum(
        int(v.get("row_errors", 0))
        for k, v in m.checkpoints.items()
        if k.startswith("docs")
    )
    m.n_docs = m.checkpoints["stats"]["n_docs"]
    m.sum_doc_len = m.checkpoints["stats"]["sum_doc_len"]
    m.field_sum_doc_len = dict(m.checkpoints["stats"].get("field_sums", {}))
    m.segments.append(
        {
            "id": seg_id,
            "n_docs": m.n_docs,
            "postings": sum(v["postings"] for v in batch_lineage.values()),
            # build-time avgdl the block max_impact bounds were baked with:
            # query-time pruning rescales bounds by max(1, avgdl_now/this)
            # so they stay sound after incremental updates raise avgdl
            "avgdl": avgdl,
            "field_avgdl": avgdl_by_field,
            "lineage": batch_lineage,
            # the reference's per-batch bulk-failure channel
            # (bugzilla_to_json.ktr:1158-1168): rows the sink rejected
            "row_errors": row_errors,
        }
    )
    m.checkpoints = {}
    m.commit(index_dir)
    return m


def _build_batch(
    prepared_batch: DataFrame,
    seg_dir: str,
    m: IndexManifest,
    avgdl_by_field: dict[str, float],
    batch_id: int = 0,
) -> dict:
    """One shard-batch: write postings blocks + docs dim + dict shard.

    Physical layout: postings directory-partitioned by shard-bucket
    ``sb = shard % n_sb`` — the query executor's task granularity (one
    pyarrow-reading Python task per (segment, sb)); within files, rows
    sorted by (tb, term) so query-term predicates prune row groups via
    parquet min/max statistics. Directory count stays small (n_sb per
    batch — 512 dirs measured a 10x write-commit penalty).
    """
    from ..session import python_stage_tuning

    spark = prepared_batch.sparkSession
    # mirror the docs pass's rejection filter: a row the docs dimension
    # refused (null keys / null content) must not emit postings either
    prepared_batch = prepared_batch.filter(~_bad_row_col())
    analyzer = m.tokenizer.split(":", 1)[0]
    field_chains = {DEFAULT_FIELD: analyzer, **m.fields}
    # positions are recorded per manifest-selected field (default: the
    # primary field only — phrase queries run against plain chains;
    # shingled fields stay lean unless explicitly requested)
    pos_fields = m.positions_fields()
    blocks = spimi_encode(
        prepared_batch, avgdl_by_field, field_chains,
        m.k1, m.b, m.block_size, m.n_tb, m.n_salts, pos_fields,
    ).withColumn("sb", F.pmod(F.col("shard"), F.lit(m.n_sb)).cast("int"))
    # posting-count lineage piggybacks on the write via observe() — no
    # read-back pass over the written block metadata
    obs = Observation(f"postings_{batch_id}")
    with python_stage_tuning(spark):
        _atomic_write(
            blocks.observe(obs, F.sum("n").alias("p")).sortWithinPartitions(
                "sb", "tb", "term", "field", "salt", "block_id"
            ),
            os.path.join(seg_dir, "postings"),
            batch_id,
            partition_by=["sb"],
        )
    return {"postings": int(obs.get["p"] or 0)}


def _atomic_write(
    df: DataFrame, root: str, batch_id: int, partition_by: list[str] | None = None
) -> None:
    """Crash-safe batch write: spark-write to a hidden temp dir, then a
    single directory rename publishes it as ``batch=<id>`` (a
    partition-style dir, so reads see an extra ``batch`` column). The
    reference's commit-only-on-success watermark discipline
    (run_incremental_update.kjb:217-225) at the file level. On object
    stores without atomic rename, an Iceberg/committer-based sink
    replaces this; local/HDFS semantics are atomic."""
    import shutil

    os.makedirs(root, exist_ok=True)
    final = os.path.join(root, f"batch={batch_id}")
    tmp = os.path.join(root, f".tmp-batch-{batch_id}")
    shutil.rmtree(final, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    os.replace(tmp, final)




def _write_dict(spark: SparkSession, seg_dir: str, small: bool = False) -> int:
    """Segment finalize: term dictionary derived from the written blocks
    (df = sum of block ns — exact, since a doc appears once per term).
    Returns the vocabulary size (sizes the term bloom without a count
    job).

    ``small`` (the incremental-increment case): one driver-side pyarrow
    column read + pandas groupby + single sorted parquet file — zero
    Spark jobs, same schema/sort as the distributed path (which remains
    the route for initial builds and large merges)."""
    postings_path = os.path.join(seg_dir, "postings")
    dict_path = os.path.join(seg_dir, "dict")
    if small:
        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        tbl = ds.dataset(postings_path, format="parquet", partitioning="hive").to_table(
            columns=["field", "term", "n", "tb"]
        )
        pdf = tbl.to_pandas()
        agg = (
            pdf.groupby(["field", "term"], sort=False)
            .agg(df=("n", "sum"), tb=("tb", "first"))
            .reset_index()
            .sort_values(["term", "field"], kind="mergesort")
        )
        # explicit schema: an empty batch (all-zero-token docs) must not
        # infer null-typed columns that later reads can't union
        out = pa.table(
            {
                "field": pa.array(agg["field"].astype(object), type=pa.string()),
                "term": pa.array(agg["term"].astype(object), type=pa.string()),
                "df": pa.array(agg["df"].astype("int64"), type=pa.int64()),
                "tb": pa.array(agg["tb"].astype("int32"), type=pa.int32()),
            }
        )
        os.makedirs(dict_path, exist_ok=True)
        pq.write_table(out, os.path.join(dict_path, "part-00000.parquet"))
        return len(agg)

    blocks = spark.read.parquet(postings_path)
    obs = Observation("dict_terms")
    (
        blocks.groupBy("field", "term")
        .agg(F.sum("n").cast("long").alias("df"), F.first("tb").alias("tb"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .sort("term", "field")
        .write.mode("overwrite")
        .parquet(dict_path)
    )
    return int(obs.get["n"] or 0)


# ---------------------------------------------------------- incremental
#: above this many bloom-maybe ids the confirm step switches from a
#: driver-inlined IN-filter to a distributed anti-join (pruned to
#: bloom-hit segments)
_MAYBE_INLINE_CAP = 10_000


def _without_indexed_docs(
    spark: SparkSession,
    m: IndexManifest,
    index_dir: str,
    prepared: DataFrame,
    new_docs: DataFrame,
) -> DataFrame:
    """Drop batch docs already indexed — bloom-pruned (VERDICT r2 #1).

    The naive plan anti-joined every increment against EVERY segment's
    full docs dimension; at 10^9 indexed docs that scan ran every
    10 minutes (the reference's cadence, configuration/crontab.txt:2).
    Here the batch's doc_ids (computed WITHOUT tokenization) are checked
    against the per-segment doc-id blooms:

    - no id hits any bloom (the common novel-batch case): zero docs-dim
      scans, zero joins — ``prepared`` passes through untouched;
    - a small maybe-set: confirm against ONLY bloom-hit segments with an
      inlined IN-filter (two tiny jobs);
    - a large maybe-set (at-least-once replay of an old batch) or a
      segment without a sidecar (pre-upgrade): distributed anti-join,
      still pruned to the bloom-hit segments where sidecars exist.

    False positives only cost a confirming scan; false negatives cannot
    occur, so doc-disjointness of segments is preserved exactly.
    """
    seg_dirs = m.segment_dirs(index_dir)
    if not seg_dirs:
        return prepared
    blooms = [(d, SegmentBlooms.load(d)) for d in seg_dirs]
    scan_dirs = seg_dirs
    if all(b is not None for _, b in blooms):
        n_shards = m.n_shards
        payload = [
            {s: bits.tobytes() for s, bits in b.docs.items()} for _, b in blooms
        ]
        bc = spark.sparkContext.broadcast(payload)

        def maybe_scan(it):
            blms = [
                SegmentBlooms(
                    {s: np.frombuffer(v, dtype=np.uint8) for s, v in d.items()},
                    None,
                )
                for d in bc.value
            ]
            for pdf in it:
                ids = pdf["doc_id"].to_numpy()
                hit = np.zeros(len(ids), dtype=bool)
                for b in blms:
                    hit |= b.maybe_docs(ids, n_shards)
                yield pdf[hit]

        ids_df = new_docs.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id")
        )
        maybe = (
            ids_df.mapInPandas(maybe_scan, schema="doc_id long")
            .toPandas()["doc_id"]
            .to_numpy()
        )
        if len(maybe) == 0:
            return prepared
        hit_dirs = [
            d for d, b in blooms if b.maybe_docs(maybe, n_shards).any()
        ]
        if len(maybe) <= _MAYBE_INLINE_CAP:
            dup = [
                int(r["doc_id"])
                for r in read_segment_union(spark, hit_dirs, "docs")
                .select("doc_id")
                .filter(F.col("doc_id").isin([int(x) for x in maybe]))
                .collect()
            ]
            if not dup:
                return prepared
            return prepared.filter(~F.col("doc_id").isin(dup))
        scan_dirs = hit_dirs
    existing = read_segment_union(spark, scan_dirs, "docs").select("doc_id")
    return prepared.join(existing, "doc_id", "left_anti")


def incremental_update(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> IndexManifest:
    """Append a new immutable segment for docs not yet indexed.

    Doc identity is content-addressed (doc_id = xxhash64(repo,path,commit)),
    so re-submitting already-indexed rows is a no-op (the reference's
    at-least-once idempotence: re-index by deterministic _id overwrites,
    SURVEY.md §3.2). df/N stay additive because segments are doc-disjoint.
    """
    m = IndexManifest.load(index_dir)
    analyzer, tokenizer = m.tokenizer.split(":", 1)
    extra = sorted(m.fields)
    prepared = prepare_docs(
        new_docs, m.n_shards, tokenizer=tokenizer, analyzer=analyzer,
        extra_fields=m.fields,
    )
    if m.doc_attr_types:
        # schema-drift guard (dynamic:strict discipline): an appended
        # batch whose attr type differs from the recorded mapping would
        # silently corrupt typed predicate pushdown on the mixed index.
        # Compared at the TYPE-CLASS level (int vs bigint widths are one
        # class — parquet unifies them; string-vs-numeric is the drift
        # that mis-filters)
        from .predicate import _type_class

        dt = dict(prepared.dtypes)
        drift = {
            a: (want, dt.get(a))
            for a, want in m.doc_attr_types.items()
            if _type_class(dt.get(a, "")) != _type_class(want)
        }
        if drift:
            raise ValueError(
                f"doc_attrs type drift vs index mapping: {drift} "
                "(column -> (indexed_type, batch_type))"
            )
    fresh = _without_indexed_docs(spark, m, index_dir, prepared, new_docs)
    seg_id = m.next_segment_id()
    seg_dir = os.path.join(index_dir, "segments", seg_id)

    t0 = time.monotonic()
    # pass 1: docs dimension; stats piggyback on the write via observe();
    # invalid rows counted + excluded (per-batch failure channel, as in
    # the full build — bugzilla_to_json.ktr:1158-1168)
    obs = Observation("incr_docs_stats")
    good = ~_bad_row_col()
    _atomic_write(
        fresh.observe(
            obs,
            F.count(F.when(good, F.lit(1))).alias("n"),
            F.sum(F.when(good, F.col("doc_len"))).alias("s"),
            *[
                F.sum(F.when(good, F.col(_extra_len_col(f)))).alias(f"s__{f}")
                for f in extra
            ],
            F.count(F.when(~good, F.lit(1))).alias("bad"),
        )
        .filter(good)
        .select(*docs_cols(m.fields, m.doc_attrs, m.store_source))
        .sortWithinPartitions("shard"),
        os.path.join(seg_dir, "docs"),
        0,
    )
    row = obs.get
    n_new, s_new = int(row["n"]), int(row["s"] or 0)
    row_errors = int(row["bad"])
    if n_new == 0:
        import shutil

        shutil.rmtree(seg_dir, ignore_errors=True)
        return m
    field_new = {f: int(row[f"s__{f}"] or 0) for f in extra}
    # avgdl for block metadata = post-update global avgdl (per field)
    n_total = m.n_docs + n_new
    avgdl = (m.sum_doc_len + s_new) / n_total
    avgdl_by_field = {DEFAULT_FIELD: avgdl}
    for f in extra:
        avgdl_by_field[f] = (
            m.field_sum_doc_len.get(f, 0) + field_new[f]
        ) / n_total
    # pass 2: postings blocks
    lineage = _build_batch(fresh, seg_dir, m, avgdl_by_field, batch_id=0)
    n_terms = _write_dict(spark, seg_dir, small=n_new <= 2_000_000)
    write_segment_blooms(
        spark, seg_dir, m.n_shards, n_docs_hint=n_new, n_terms_hint=n_terms
    )
    lineage["elapsed_s"] = round(time.monotonic() - t0, 3)
    m.n_docs += n_new
    m.sum_doc_len += s_new
    for f in extra:
        m.field_sum_doc_len[f] = m.field_sum_doc_len.get(f, 0) + field_new[f]
    m.segments.append(
        {
            "id": seg_id,
            "n_docs": n_new,
            "postings": lineage["postings"],
            "avgdl": avgdl,
            "field_avgdl": avgdl_by_field,
            "lineage": lineage,
            "row_errors": row_errors,
        }
    )
    m.commit(index_dir)
    return m


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list[int],
    auto_compact_ratio: float | None = 0.2,
) -> IndexManifest:
    """Logical delete via tombstones (compacted away by merge_segments).

    Idempotent: already-tombstoned ids are excluded from the n_docs /
    sum_doc_len decrement, so re-deleting never corrupts global stats.

    ``auto_compact_ratio``: when the tombstone list grows past this
    fraction of live docs, a merge compacts them away immediately — the
    log-structured bound that keeps the manifest's tombstone array (and
    every query's tombstone filter) from growing without limit at scale.
    The compaction is TARGETED: per-segment doc blooms identify which
    segments (maybe) contain tombstoned docs and only those are merged
    — deleting from one segment of a 10^3-segment index rewrites one
    segment, not the index (bloom false positives merge a segment
    harmlessly; missing sidecars fall back to the full merge). Pass
    None to defer compaction to an explicit merge."""
    m = IndexManifest.load(index_dir)
    new_ids = sorted(set(doc_ids) - set(m.tombstones))
    if not new_ids:
        return m
    # empty index (all segments compacted away) — a delete is a no-op,
    # not an error: at-least-once redelivery (upsert re-running after a
    # crash between delete and re-append) must keep the upsert idempotent
    if not m.segments:
        return m
    # one union scan tagged with the owning segment id so per-segment
    # LIVE doc counts stay honest — compact_tiered ranks tiers by
    # n_docs, which must reflect tombstones or delete-heavy segments
    # never look small enough to compact (ADVICE r3)
    parts = []
    for s in m.segments:
        p = spark.read.parquet(
            os.path.join(index_dir, "segments", s["id"], "docs")
        )
        if "batch" in p.columns:
            p = p.drop("batch")
        parts.append(p.withColumn("__seg", F.lit(s["id"])))
    gone = parts[0]
    for p in parts[1:]:
        gone = gone.unionByName(p)
    gone = gone.filter(F.col("doc_id").isin(new_ids))
    # only ids actually present in the index become tombstones: a delete
    # of a nonexistent id must be a full no-op, or the tombstone list
    # (and every query's tombstone filter) inflates forever and
    # auto-compaction triggers spuriously
    extra = sorted(m.fields)
    rows = gone.select(
        "doc_id", "doc_len", "__seg", *[_extra_len_col(f) for f in extra]
    ).collect()
    found = {int(r["doc_id"]) for r in rows}
    if not found:
        return m
    per_seg: dict[str, int] = {}
    for r in rows:
        per_seg[r["__seg"]] = per_seg.get(r["__seg"], 0) + 1
    for s in m.segments:
        if s["id"] in per_seg:
            s["n_docs"] = max(0, int(s["n_docs"]) - per_seg[s["id"]])
    m.tombstones = sorted(set(m.tombstones) | found)
    m.n_docs -= len(rows)
    m.sum_doc_len -= int(sum(r["doc_len"] for r in rows))
    for f in extra:
        m.field_sum_doc_len[f] = m.field_sum_doc_len.get(f, 0) - int(
            sum(r[_extra_len_col(f)] for r in rows)
        )
    m.commit(index_dir)
    # NB: no n_docs > 0 guard — deleting the LAST live docs must still
    # compact (len(tombstones) > ratio*0 == 0), or an upsert batch that
    # covers every live doc leaves them physically present and the
    # re-append silently drops the whole batch as "already indexed"
    if (
        auto_compact_ratio is not None
        and len(m.tombstones) > auto_compact_ratio * m.n_docs
    ):
        from .merge import merge_segments

        tomb = np.array(sorted(m.tombstones), dtype=np.int64)
        hit_ids: list[str] = []
        have_all = True
        for s in m.segments:
            blooms = SegmentBlooms.load(
                os.path.join(index_dir, "segments", s["id"])
            )
            if blooms is None:
                have_all = False
                break
            if blooms.maybe_docs(tomb, m.n_shards).any():
                hit_ids.append(s["id"])
        if have_all and hit_ids:
            m = merge_segments(spark, index_dir, segment_ids=hit_ids)
        else:
            m = merge_segments(spark, index_dir)
    return m


# ------------------------------------------------------------ invariant
def verify_sha256(spark: SparkSession, corpus: DataFrame, index_dir: str) -> int:
    """Per-row invariant (BASELINE.json input_hint): every indexed doc's
    stored sha256 equals sha256(content) of the source row. Returns the
    number of verified rows; raises on any mismatch or missing doc."""
    m = IndexManifest.load(index_dir)
    src = corpus.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        F.sha2("content", 256).alias("src_sha"),
    )
    docs = read_segment_union(spark, m.segment_dirs(index_dir), "docs").select(
        "doc_id", "sha256"
    )
    joined = docs.join(src, "doc_id", "left")
    bad = joined.filter(
        F.col("src_sha").isNull() | (F.col("src_sha") != F.col("sha256"))
    ).count()
    if bad:
        raise AssertionError(f"sha256 invariant violated for {bad} docs")
    return docs.count()
