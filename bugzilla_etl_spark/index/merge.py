"""Log-structured multi-way segment merge.

The reference's Sorted Merge (bugzilla_to_json.ktr:1403-1429) applied to
index segments instead of row streams: all committed segments' blocks for
a (shard, tb, salt) group are decoded, concatenated per term, tombstoned
docs dropped, doc-duplicates collapsed (content-addressed doc ids — the
same (repo,path,commit) re-indexed is byte-identical, keep-one), then
re-encoded into fresh blocks with block-max impacts recomputed against
the post-merge avgdl. The manifest swap that publishes the merged
segment is the alias-swap analog (bin/import_bugs.sh:21-23).

Distributed end-to-end: the heavy work is one applyInPandas over
(shard, tb, salt) groups — the same shuffle shape as the build — so the
merge scales with the index, not with the driver.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec import delta_decode, varint_decode
from .build import BLOCK_SCHEMA, _make_encoder, read_segment_union
from .manifest import IndexManifest, writer_lock

#: above this many tombstones, plan-side filters switch from an inlined
#: IN-list (fast to plan, but the literal array is serialized into the
#: plan) to a broadcast (anti-/semi-)join against a tombstone frame
_TOMB_INLINE_CAP = 10_000

#: grace period before a RETIRED segment dir (replaced by a merge) is
#: physically removed: a reader that loaded the pre-merge manifest just
#: before the swap keeps fully-readable files for this long (Lucene's
#: deferred segment deletion). 0 = remove immediately (the pre-r5
#: behavior).
RETIRE_GRACE_S = float(os.environ.get("SPARK_GRAFT_RETIRE_GRACE_S", "600"))


def _retire_dirs(m: IndexManifest, dirs: list[str]) -> None:
    """Mark replaced segment dirs for deferred removal (manifest commit
    by the CALLER publishes both the new segment set and the retire
    list atomically)."""
    now = time.time()
    m.retired = list(m.retired) + [
        {"id": os.path.basename(d), "ts": now} for d in dirs
    ]


def gc_retired(index_dir: str, grace_s: float | None = None) -> list[str]:
    """Physically remove retired segment dirs older than ``grace_s``
    (default RETIRE_GRACE_S). Returns the removed ids. Safe to run
    concurrently with writers: the load→commit of manifest.json holds an
    advisory flock (writer_lock), so gc can never clobber a
    merge/incremental commit that lands between its read and its write
    (ADVICE r5). The rmtree of an already-retired dir needs no lock —
    dirs on the retire list are invisible to new readers by definition."""
    g = RETIRE_GRACE_S if grace_s is None else grace_s
    with writer_lock(index_dir):
        m = IndexManifest.load(index_dir)
        if not m.retired:
            return []
        now = time.time()
        live_ids = {s["id"] for s in m.segments}
        keep, gone = [], []
        for r in m.retired:
            # paranoia: never remove a dir that somehow re-entered service
            if r["id"] not in live_ids and now - float(r["ts"]) >= g:
                shutil.rmtree(
                    os.path.join(index_dir, "segments", r["id"]), ignore_errors=True
                )
                gone.append(r["id"])
            else:
                keep.append(r)
        if gone:
            m.retired = keep
            m.commit(index_dir)
    return gone


def _drop_tombstoned(docs: DataFrame, tombstones: list[int]) -> DataFrame:
    if not tombstones:
        return docs
    if len(tombstones) <= _TOMB_INLINE_CAP:
        return docs.filter(~F.col("doc_id").isin(tombstones))
    spark = docs.sparkSession
    tomb = spark.createDataFrame([(int(t),) for t in tombstones], "doc_id long")
    return docs.join(F.broadcast(tomb), "doc_id", "left_anti")


def _keep_tombstoned(docs: DataFrame, tombstones: list[int]) -> DataFrame:
    if len(tombstones) <= _TOMB_INLINE_CAP:
        return docs.filter(F.col("doc_id").isin(tombstones))
    spark = docs.sparkSession
    tomb = spark.createDataFrame([(int(t),) for t in tombstones], "doc_id long")
    return docs.join(F.broadcast(tomb), "doc_id", "left_semi")


_EMPTY_BLOCKS = pd.DataFrame(
    {
        "shard": pd.Series(dtype="int32"),
        "tb": pd.Series(dtype="int32"),
        "salt": pd.Series(dtype="int32"),
        "field": pd.Series(dtype="object"),
        "term": pd.Series(dtype="object"),
        "block_id": pd.Series(dtype="int32"),
        "n": pd.Series(dtype="int32"),
        "first_doc": pd.Series(dtype="int64"),
        "last_doc": pd.Series(dtype="int64"),
        "max_impact": pd.Series(dtype="float64"),
        "gaps": pd.Series(dtype="object"),
        "tfs": pd.Series(dtype="object"),
        "dls": pd.Series(dtype="object"),
        "poss": pd.Series(dtype="object"),
    }
)


def _make_block_merger(
    avgdl_by_field: dict[str, float],
    k1: float,
    b: float,
    block_size: int,
    tombstones: list[int],
    positional: "frozenset[str] | bool" = False,
):
    encoder = _make_encoder(avgdl_by_field, k1, b, block_size)
    tomb = np.array(sorted(tombstones), dtype=np.int64)
    pos_fields = (
        frozenset({"content"}) if positional is True
        else (positional or frozenset())
    )

    def merge(key, pdf):  # (key, pd.DataFrame) -> pd.DataFrame
        keep_pos = str(key[0]) in pos_fields
        terms, docs, tfs, dls, poss = [], [], [], [], []
        pos_col = (
            pdf["poss"].to_numpy()
            if keep_pos and "poss" in pdf.columns
            else [None] * len(pdf)
        )
        for t, g, tf, dl, pz in zip(
            pdf["term"].to_numpy(),
            pdf["gaps"].to_numpy(),
            pdf["tfs"].to_numpy(),
            pdf["dls"].to_numpy(),
            pos_col,
        ):
            d = delta_decode(varint_decode(bytes(g))).view(np.int64)
            tf_a = varint_decode(bytes(tf))
            dl_a = varint_decode(bytes(dl))
            plists = None
            if keep_pos:
                # per-posting position arrays (within-doc cumsum of the
                # block's delta stream, split by tf)
                flat = varint_decode(bytes(pz)).astype(np.int64)
                bounds = np.cumsum(tf_a.astype(np.int64))[:-1]
                plists = np.empty(len(tf_a), dtype=object)
                for j, seg in enumerate(np.split(flat, bounds)):
                    plists[j] = np.cumsum(seg)
            if tomb.size:
                keep = ~np.isin(d, tomb)
                if not keep.any():
                    continue
                d, tf_a, dl_a = d[keep], tf_a[keep], dl_a[keep]
                if plists is not None:
                    plists = plists[keep]
            terms.append(np.full(len(d), t, dtype=object))
            docs.append(d)
            tfs.append(tf_a)
            dls.append(dl_a)
            if plists is not None:
                poss.append(plists)
        if not docs:
            return _EMPTY_BLOCKS
        cols = {
            "term": np.concatenate(terms),
            "doc_id": np.concatenate(docs),
            "tf": np.concatenate(tfs).astype(np.int64),
            "doc_len": np.concatenate(dls).astype(np.int64),
        }
        if keep_pos:
            cols["positions"] = np.concatenate(poss)
        flat = pd.DataFrame(cols).drop_duplicates(["term", "doc_id"], keep="first")
        return encoder(key, flat)

    return merge


def merge_segments(
    spark: SparkSession, index_dir: str, segment_ids: list[str] | None = None
) -> IndexManifest:
    """Compact segments (+ their tombstones) into one fresh segment.

    ``segment_ids=None`` compacts EVERYTHING — correct but a full-index
    rewrite, which at 10^9 docs is the wrong default maintenance unit.
    Passing a subset performs a PARTIAL (size-tiered style) merge: only
    those segments are read, rewritten and dropped; the rest of the
    index is untouched on disk and in the manifest. Tombstoned docs
    that lived in the merged subset are physically removed and their
    ids leave the tombstone list; tombstones pointing into untouched
    segments remain until their tier is compacted (log-structured
    semantics). See ``compact_tiered`` for the policy loop.
    """
    m = IndexManifest.load(index_dir)
    if not m.segments:
        return m
    if segment_ids is not None:
        chosen = [s for s in m.segments if s["id"] in set(segment_ids)]
        if len(chosen) != len(set(segment_ids)):
            missing = set(segment_ids) - {s["id"] for s in chosen}
            raise ValueError(f"unknown segment ids: {sorted(missing)}")
        if len(chosen) == len(m.segments):
            segment_ids = None  # subset == all: take the full-merge path
    if segment_ids is not None:
        return _merge_subset(spark, index_dir, m, chosen)
    seg_dirs = m.segment_dirs(index_dir)
    new_id = m.next_segment_id()
    new_dir = os.path.join(index_dir, "segments", new_id)

    from .build import _extra_len_col

    extra = sorted(m.fields)
    docs = _drop_tombstoned(
        read_segment_union(spark, seg_dirs, "docs").dropDuplicates(["doc_id"]),
        m.tombstones,
    )
    docs.persist()
    try:
        stats = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_len").alias("s"),
            *[F.sum(_extra_len_col(f)).alias(f"s__{f}") for f in extra],
        ).collect()[0]
        n_docs, sum_dl = int(stats["n"]), int(stats["s"] or 0)
        if n_docs == 0:
            # every doc tombstoned: the merged index is EMPTY — no new
            # segment at all (a zero-row partitioned write leaves no
            # readable schema); queries on an empty manifest return []
            m.segments = []
            m.tombstones = []
            m.n_docs = 0
            m.sum_doc_len = 0
            m.field_sum_doc_len = {f: 0 for f in extra}
            _retire_dirs(m, seg_dirs)
            m.commit(index_dir)
            gc_retired(index_dir)
            return m
        avgdl = sum_dl / n_docs if n_docs else 1.0
        field_sums = {f: int(stats[f"s__{f}"] or 0) for f in extra}
        avgdl_by_field = {"content": avgdl}
        for f in extra:
            avgdl_by_field[f] = field_sums[f] / n_docs if n_docs else 1.0

        from ..session import python_stage_tuning

        t0 = time.monotonic()
        blocks_in = read_segment_union(spark, seg_dirs, "postings")
        merger = _make_block_merger(
            avgdl_by_field, m.k1, m.b, m.block_size, m.tombstones,
            positional=m.positions_fields(),
        )
        merged = blocks_in.groupBy("field", "shard", "tb", "salt").applyInPandas(
            merger, schema=BLOCK_SCHEMA
        )
        with python_stage_tuning(spark):
            merged.withColumn(
                "sb", F.pmod(F.col("shard"), F.lit(m.n_sb)).cast("int")
            ).sortWithinPartitions(
                "sb", "tb", "term", "field", "salt", "block_id"
            ).write.partitionBy("sb").mode("overwrite").parquet(
                os.path.join(new_dir, "postings")
            )
        docs.sortWithinPartitions("shard").write.mode("overwrite").parquet(
            os.path.join(new_dir, "docs")
        )
        # dict rebuilt from the merged blocks so df reflects dedupe+tombstones
        _dict_from_blocks(spark, os.path.join(new_dir, "postings")).sort(
            "term"
        ).write.mode("overwrite").parquet(os.path.join(new_dir, "dict"))
        from .bloom import write_segment_blooms

        write_segment_blooms(spark, new_dir, m.n_shards)
        elapsed = round(time.monotonic() - t0, 3)

        old_dirs = list(seg_dirs)
        m.segments = [
            {
                "id": new_id,
                "n_docs": n_docs,
                "postings": None,
                "avgdl": avgdl,
                "field_avgdl": avgdl_by_field,
                "lineage": {
                    "merged_from": [os.path.basename(d) for d in old_dirs],
                    "elapsed_s": elapsed,
                },
            }
        ]
        m.tombstones = []
        m.n_docs = n_docs
        m.sum_doc_len = sum_dl
        m.field_sum_doc_len = field_sums
        _retire_dirs(m, old_dirs)
        m.commit(index_dir)  # alias swap: queries now see only the merged segment
        gc_retired(index_dir)
    finally:
        docs.unpersist()
    return m


def _merge_subset(
    spark: SparkSession, index_dir: str, m: IndexManifest, chosen: list[dict]
) -> IndexManifest:
    """Partial merge: rewrite only ``chosen`` segments into one new
    segment; untouched segments and global stats stay as-is (deletes
    already adjusted stats when tombstoning)."""
    from pyspark.sql import Observation

    from ..session import python_stage_tuning
    from .bloom import write_segment_blooms

    sub_dirs = [os.path.join(index_dir, "segments", s["id"]) for s in chosen]
    chosen_ids = {s["id"] for s in chosen}
    new_id = m.next_segment_id()
    new_dir = os.path.join(index_dir, "segments", new_id)
    t0 = time.monotonic()

    # tombstones physically removed by this merge = those living in the
    # merged subset (collect is bounded by the tombstone list, which
    # auto-compaction already bounds)
    dropped: set[int] = set()
    if m.tombstones:
        dropped = {
            int(r["doc_id"])
            for r in _keep_tombstoned(
                read_segment_union(spark, sub_dirs, "docs").select("doc_id"),
                m.tombstones,
            ).collect()
        }

    live = _drop_tombstoned(
        read_segment_union(spark, sub_dirs, "docs").dropDuplicates(["doc_id"]),
        m.tombstones,
    )
    obs = Observation(f"subset_docs_{new_id}")
    live.sortWithinPartitions("shard").observe(
        obs, F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(os.path.join(new_dir, "docs"))
    n_live = int(obs.get["n"] or 0)
    if n_live == 0:
        # every doc in the subset was tombstoned: no new segment at all
        shutil.rmtree(new_dir, ignore_errors=True)
        m.segments = [s for s in m.segments if s["id"] not in chosen_ids]
        m.tombstones = sorted(set(m.tombstones) - dropped)
        _retire_dirs(m, sub_dirs)
        m.commit(index_dir)
        gc_retired(index_dir)
        return m

    # bounds for the re-encoded blocks are baked with the CURRENT global
    # per-field avgdl (the same values queries rescale against)
    avgdl_by_field = {"content": m.avgdl}
    for f in sorted(m.fields):
        avgdl_by_field[f] = m.field_avgdl(f)
    blocks_in = read_segment_union(spark, sub_dirs, "postings")
    merger = _make_block_merger(
        avgdl_by_field, m.k1, m.b, m.block_size, sorted(dropped),
        positional=m.positions_fields(),
    )
    merged = blocks_in.groupBy("field", "shard", "tb", "salt").applyInPandas(
        merger, schema=BLOCK_SCHEMA
    )
    with python_stage_tuning(spark):
        merged.withColumn(
            "sb", F.pmod(F.col("shard"), F.lit(m.n_sb)).cast("int")
        ).sortWithinPartitions(
            "sb", "tb", "term", "field", "salt", "block_id"
        ).write.partitionBy("sb").mode("overwrite").parquet(
            os.path.join(new_dir, "postings")
        )
    _dict_from_blocks(spark, os.path.join(new_dir, "postings")).sort(
        "term"
    ).write.mode("overwrite").parquet(os.path.join(new_dir, "dict"))
    write_segment_blooms(spark, new_dir, m.n_shards, n_docs_hint=n_live)

    m.segments = [s for s in m.segments if s["id"] not in chosen_ids] + [
        {
            "id": new_id,
            "n_docs": n_live,
            "postings": None,
            "avgdl": avgdl_by_field["content"],
            "field_avgdl": avgdl_by_field,
            "lineage": {
                "merged_from": sorted(chosen_ids),
                "elapsed_s": round(time.monotonic() - t0, 3),
            },
        }
    ]
    m.tombstones = sorted(set(m.tombstones) - dropped)
    _retire_dirs(m, sub_dirs)
    m.commit(index_dir)  # alias swap: queries now see the new tier
    gc_retired(index_dir)
    return m


def compact_tiered(
    spark: SparkSession,
    index_dir: str,
    max_segments: int = 8,
    fan_in: int = 4,
) -> IndexManifest:
    """Size-tiered compaction policy (the log-structured maintenance
    loop): while the index holds more than ``max_segments`` committed
    segments, merge the ``fan_in`` SMALLEST (by live doc count) into
    one. Each pass rewrites only the small tail that incremental
    appends accumulate — never the big mature segments — so write
    amplification stays logarithmic in index size instead of the full
    rewrite ``merge_segments()`` performs."""
    m = IndexManifest.load(index_dir)
    while len(m.segments) > max_segments:
        smallest = sorted(m.segments, key=lambda s: (s["n_docs"], s["id"]))[
            : max(2, fan_in)
        ]
        m = merge_segments(spark, index_dir, [s["id"] for s in smallest])
    return m


def _dict_from_blocks(spark: SparkSession, postings_path: str) -> DataFrame:
    blocks = spark.read.parquet(postings_path)
    return blocks.groupBy("field", "term").agg(
        F.sum("n").alias("df"), F.first("tb").alias("tb")
    )


def merge_indexes(index_dirs: list[str], out_dir: str) -> "IndexManifest":
    """Adopt several index ROOTS' immutable segments into ONE new index
    — a true merged index with NO re-indexing and (same filesystem) no
    data copying: every source segment directory hardlinks under the
    new root with a fresh id, and the manifest's global stats sum
    (segments are doc-disjoint and self-contained: their dict/postings/
    docs files never reference manifest-global state beyond the fixed
    config). The ES analog is cross-index shrink/clone; with the alias
    family it closes the lifecycle loop: rollover members while hot,
    merge_indexes + compact_tiered when cold.

    All members must share the FIXED config (analyzer, sharding,
    positions, store_source, k1/b, block size) — doc->shard placement
    and analysis are functions of that config, so mixing configs would
    corrupt bucket routing. Tombstones union; a later compact_tiered
    physically drops them. The merged index answers queries identically
    to multi_index_search(stats="global") over the members — the
    equivalence the dfs mode is defined by."""
    if len(index_dirs) < 2:
        raise ValueError("merge_indexes needs at least two index dirs")
    dirs = [os.path.abspath(d) for d in index_dirs]
    out_dir = os.path.abspath(out_dir)
    if os.path.exists(IndexManifest.path(out_dir)):
        raise ValueError(f"out_dir already holds an index: {out_dir}")
    ms = [IndexManifest.load(d) for d in dirs]
    fixed = ("k1", "b", "n_shards", "n_tb", "n_sb",
             "n_salts", "block_size", "positions", "store_source")

    def _cfg(m: IndexManifest) -> dict:
        # the analyzer compares as its chain: a legacy ":arrow"/":builtin"
        # suffix only named how doc_len was counted, never what it is
        return {"tokenizer": m.field_chain(), **{f: getattr(m, f) for f in fixed}}

    cfg0 = _cfg(ms[0])
    for m, d in zip(ms[1:], dirs[1:]):
        cfg = _cfg(m)
        if cfg != cfg0:
            diff = {k: (cfg0[k], cfg[k]) for k in cfg0 if cfg[k] != cfg0[k]}
            raise ValueError(
                f"member {d} differs in fixed config: {diff}"
            )
        if m.fields != ms[0].fields:
            raise ValueError(
                f"member {d} differs in field variants: "
                f"{m.fields} vs {ms[0].fields}"
            )
        if m.doc_attr_types != ms[0].doc_attr_types:
            raise ValueError(
                f"member {d} differs in doc_attr typing: "
                f"{m.doc_attr_types} vs {ms[0].doc_attr_types}"
            )

    def _link_tree(src: str, dst: str) -> None:
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            tgt = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(tgt, exist_ok=True)
            for f in files:
                s, t = os.path.join(root, f), os.path.join(tgt, f)
                try:
                    os.link(s, t)
                except OSError:  # cross-device: fall back to a copy
                    import shutil

                    shutil.copy2(s, t)

    out = IndexManifest(
        **cfg0,
        fields=dict(ms[0].fields),
        doc_attrs=list(ms[0].doc_attrs),
        doc_attr_types=dict(ms[0].doc_attr_types),
    )
    attrs = set(ms[0].doc_attrs)
    for m in ms[1:]:
        if set(m.doc_attrs) != attrs:
            raise ValueError("members differ in doc_attrs")
    for m, d in zip(ms, dirs):
        for seg in m.segments:
            new_id = out.next_segment_id()
            _link_tree(
                os.path.join(d, "segments", seg["id"]),
                os.path.join(out_dir, "segments", new_id),
            )
            out.segments.append({**seg, "id": new_id})
        out.n_docs += m.n_docs
        out.sum_doc_len += m.sum_doc_len
        for f, s in m.field_sum_doc_len.items():
            out.field_sum_doc_len[f] = out.field_sum_doc_len.get(f, 0) + s
        out.tombstones.extend(m.tombstones)
    out.tombstones = sorted(set(out.tombstones))
    out.commit(out_dir)
    return out
