"""Log-structured multi-way segment merge.

The reference's Sorted Merge (bugzilla_to_json.ktr:1403-1429) applied to
index segments instead of row streams: all merged segments' blocks for
a (shard, salt) group are decoded (each segment's format-2 ordinals
through its own all-docs list; format-1 blocks as stored), tombstoned
docs dropped,
doc-duplicates collapsed (content-addressed doc ids — the same
(repo,path,commit) re-indexed is byte-identical, keep-one), then
re-encoded into fresh blocks with block-max impacts recomputed against
the post-merge avgdl. The manifest swap that publishes the merged
segment is the alias-swap analog (bin/import_bugs.sh:21-23).

Distributed end-to-end: the heavy work is one applyInPandas over
(shard, salt) groups — the build's SPIMI grouping — so the merge scales
with the index, not with the driver, and writes through the build's own
postings, dict and bloom writers: a fully merged segment's blocks equal
those of a fresh build of its live docs, in the same file layout and
in the current postings format — compaction is the one path that
rewrites format-1 segments.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..codec import (
    BlockError,
    decode_blocks,
    doc_id_to_u64,
    join_blocks,
    varint_decode_blocks,
)
from .bloom import write_segment_blooms
from .build import (
    ALL_DOCS,
    BLOCK_SCHEMA,
    POSTINGS_FORMAT,
    _atomic_write,
    _blocks_frame,
    _concat_blocks,
    _extra_len_col,
    _impact,
    _write_dict,
    _write_postings,
    read_segment_union,
)
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


def _make_block_merger(
    avgdl_by_field: dict[str, float],
    k1: float,
    b: float,
    block_size: int,
    n_tb: int,
    tombstones: list[int],
    pos_fields: frozenset[str],
):
    """Block merger for one (shard, salt) group, the build's SPIMI run.

    Per field, the group's term blocks decode as one batch
    (``codec.decode_blocks``: one varint pass over the joined block
    buffers of the payload columns, values by a segmented cumsum). A
    format-2 block's values are ordinals into its segment's all-docs
    list (decoded first, as one batch too), which gives each posting
    its doc id and dl; a format-1 block stores both. A block whose
    bytes do not hold its postings raises, naming its segment, term (or
    all-docs list) and block. Tombstoned and duplicate (term, doc)
    postings drop; the survivors, sorted by (term, doc), re-encode
    through the build's block assembly (format 2, with its own all-docs
    list) with impacts against ``avgdl_by_field``. The stored positions
    are already the encoder's within-doc gap form, so each posting's
    slice is only gathered into the new order."""
    tomb = doc_id_to_u64(np.array(sorted(tombstones), dtype=np.int64))

    def _bad_block(fld, g, e: BlockError) -> ValueError:
        row = g.iloc[e.block]
        what = (f"all-docs list {fld}" if row["term"] == ALL_DOCS
                else f"term {fld}:{row['term']!r}")
        return ValueError(
            f"segment {row['segment']}, {what}, "
            f"block {row['block_id']} (shard {row['shard']}, salt {row['salt']}): {e}"
        )

    def _all_docs(fld, a):
        """(doc ids, dls, {segment: start}, {segment: size}) of the
        all-docs rows ``a``: each segment's list, one after the other."""
        a = a.sort_values(["segment", "block_id"], kind="stable")
        n = a["n"].to_numpy().astype(np.int64)
        try:
            ids, _, dl = decode_blocks(
                n, *join_blocks([*a["gaps"], *a["tfs"], *a["dls"]]),
                tf_n=np.zeros_like(n),
            )
        except BlockError as e:
            raise _bad_block(fld, a, e) from None
        sizes = a.groupby("segment", sort=False)["n"].sum()
        starts = sizes.cumsum() - sizes
        return ids, dl.astype(np.int64), starts.to_dict(), sizes.to_dict()

    def _one_field(shard, salt, fld, g):
        is_ad = (g["term"] == ALL_DOCS).to_numpy()
        ids, dls, starts, sizes = _all_docs(fld, g[is_ad]) if is_ad.any() else (None, None, {}, {})
        g = g[~is_ad]
        if not len(g):
            return None
        n = g["n"].to_numpy().astype(np.int64)
        f2 = (g["dls"].map(len) == 0).to_numpy()
        try:
            du, tf, own_dl = decode_blocks(
                n, *join_blocks([*g["gaps"], *g["tfs"], *g["dls"]]),
                dl_n=np.where(f2, 0, n),
            )
        except BlockError as e:
            raise _bad_block(fld, g, e) from None
        tf = tf.astype(np.int64)
        dl = np.empty(len(du), dtype=np.int64)
        dl[np.repeat(~f2, n)] = own_dl
        if f2.any():
            # format-2 rows: ordinals -> doc ids and dls through their
            # segment's all-docs list
            size = g["segment"].map(sizes)
            lost = np.flatnonzero(f2 & size.isna().to_numpy())
            if len(lost):
                raise _bad_block(fld, g, BlockError(
                    int(lost[0]), "gaps: ordinals without an all-docs list"))
            start = g["segment"].map(starts).fillna(0).to_numpy(dtype=np.int64)
            size = size.fillna(0).to_numpy(dtype=np.int64)
            at = np.repeat(f2, n)
            ords = du[at].astype(np.int64)
            past = np.flatnonzero(ords >= np.repeat(size, n)[at])
            if len(past):
                r = int(np.searchsorted(np.cumsum(n), np.flatnonzero(at)[past[0]], side="right"))
                raise _bad_block(fld, g, BlockError(
                    r, f"gaps: ordinal past the {int(size[r])} docs of its all-docs list"))
            idx = ords + np.repeat(start, n)[at]
            du[at], dl[at] = ids[idx], dls[idx]
        codes, uniq_terms = pd.factorize(g["term"].to_numpy(), sort=True)
        tb_per_term = np.empty(len(uniq_terms), dtype=np.int64)
        tb_per_term[codes] = g["tb"].to_numpy()
        c = np.repeat(codes, n)
        order = np.lexsort((du, c))  # stable: the first copy of a doc wins
        if tomb.size:
            order = order[~np.isin(du[order], tomb)]
        if not len(order):
            return None
        cg, dg = c[order], du[order]
        # a doc re-indexed into two segments (merge_indexes members):
        # content-addressed ids make the copies identical — keep one
        first = np.ones(len(order), dtype=bool)
        first[1:] = (cg[1:] != cg[:-1]) | (dg[1:] != dg[:-1])
        order, cg, dg = order[first], cg[first], dg[first]
        tf_o, dl_o = tf[order], dl[order]
        pos_gaps = None
        if fld in pos_fields:
            c_tf = np.concatenate(([0], np.cumsum(tf)))
            p_at = np.concatenate(([0], np.cumsum(n)))
            try:
                pz = varint_decode_blocks(
                    *join_blocks(g["poss"]), c_tf[p_at[1:]] - c_tf[p_at[:-1]]
                )
            except BlockError as e:
                raise _bad_block(fld, g, BlockError(e.block, f"poss: {e}")) from None
            # posting p owns tf[p] slots from cumsum(tf)[p-1]: gather
            # each kept posting's slice to its place in the new order
            src = c_tf[:-1][order]
            dst = np.cumsum(tf_o) - tf_o
            pos_gaps = pz[np.repeat(src - dst, tf_o) + np.arange(int(tf_o.sum()))]
        return _blocks_frame(
            shard, salt, fld, cg, np.asarray(uniq_terms, dtype=object),
            tb_per_term, dg, tf_o, dl_o,
            _impact(tf_o, dl_o, avgdl_by_field[fld], k1, b), block_size, n_tb, pos_gaps,
        )

    def merge(key, pdf):  # (key, pd.DataFrame) -> pd.DataFrame
        shard, salt = int(key[0]), int(key[1])
        return _concat_blocks([
            _one_field(shard, salt, str(fld), g)
            for fld, g in pdf.groupby("field", sort=True)
        ])

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

    A full merge recomputes the global stats from the merged docs and
    bakes block bounds with them; a partial merge keeps the global
    stats (deletes already adjusted them) and bakes with those. The new
    segment is written by the build's own writers, in its layout.
    """
    m = IndexManifest.load(index_dir)
    if not m.segments:
        return m
    chosen = m.segments
    if segment_ids is not None:
        chosen = [s for s in m.segments if s["id"] in set(segment_ids)]
        if len(chosen) != len(set(segment_ids)):
            missing = set(segment_ids) - {s["id"] for s in chosen}
            raise ValueError(f"unknown segment ids: {sorted(missing)}")
    full = len(chosen) == len(m.segments)
    sub_dirs = [os.path.join(index_dir, "segments", s["id"]) for s in chosen]
    chosen_ids = {s["id"] for s in chosen}
    new_id = m.next_segment_id()
    new_dir = os.path.join(index_dir, "segments", new_id)
    t0 = time.monotonic()

    # tombstones physically removed by this merge = those living in the
    # merged subset (collect is bounded by the tombstone list, which
    # auto-compaction already bounds); a full merge removes them all
    dropped: set[int] = set(m.tombstones)
    if m.tombstones and not full:
        dropped = {
            int(r["doc_id"])
            for r in _keep_tombstoned(
                read_segment_union(spark, sub_dirs, "docs").select("doc_id"),
                m.tombstones,
            ).collect()
        }

    # docs first: their stats piggyback on the write via observe()
    extra = sorted(m.fields)
    obs = Observation(f"merge_docs_{new_id}")
    _atomic_write(
        _drop_tombstoned(
            read_segment_union(spark, sub_dirs, "docs").dropDuplicates(["doc_id"]),
            m.tombstones,
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_len").alias("s"),
            *[F.sum(_extra_len_col(f)).alias(f"s__{f}") for f in extra],
        ).sortWithinPartitions("shard"),
        os.path.join(new_dir, "docs"),
        0,
    )
    row = obs.get
    n_live = int(row["n"] or 0)
    if full:
        m.n_docs = n_live
        m.sum_doc_len = int(row["s"] or 0)
        m.field_sum_doc_len = {f: int(row[f"s__{f}"] or 0) for f in extra}
    rest = [s for s in m.segments if s["id"] not in chosen_ids]
    if n_live == 0:
        # every doc in the merged segments was tombstoned: no new segment
        # at all (a zero-row partitioned write leaves no readable
        # schema); a query on an empty manifest returns []
        shutil.rmtree(new_dir, ignore_errors=True)
        m.segments = rest
    else:
        avgdl_by_field = {"content": m.avgdl, **{f: m.field_avgdl(f) for f in extra}}
        merger = _make_block_merger(
            avgdl_by_field, m.k1, m.b, m.block_size, m.n_tb, sorted(dropped),
            m.positions_fields(),
        )
        blocks = read_segment_union(spark, sub_dirs, "postings", tag=True).select(
            "shard", "salt", "field", "term", "tb", "n", "gaps", "tfs", "dls", "poss",
            "segment", "block_id",
        ).groupBy("shard", "salt").applyInPandas(merger, schema=BLOCK_SCHEMA)
        n_postings = _write_postings(blocks, new_dir, m.n_sb)
        n_terms = _write_dict(spark, new_dir, small=n_live <= 2_000_000)
        write_segment_blooms(
            spark, new_dir, m.n_shards, n_docs_hint=n_live, n_terms_hint=n_terms
        )
        m.segments = rest + [
            {
                "id": new_id,
                "n_docs": n_live,
                "postings": n_postings,
                "format": POSTINGS_FORMAT,
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
    m.version = POSTINGS_FORMAT
    m.commit(index_dir)  # alias swap: queries now see the merged segment
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
