"""Batched block decode: every read of ``postings.read_bucket`` equals
decoding block by block, and a block whose bytes do not hold its
postings raises, on the query path and in merge, naming its segment,
term and block."""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from bugzilla_etl_spark.codec import delta_decode, varint_decode
from bugzilla_etl_spark.corpus import generate_corpus
from bugzilla_etl_spark.index import build_index, incremental_update, merge_segments, search_many
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.index.postings import ReadScope, read_bucket

K1, B = 1.2, 0.75


def _reference(index_dir, seg_id, sb, fld, term, idf, avgdl, has_field=True):
    """Per-block decode of one (field, term) of one bucket straight from
    the parquet rows: [(docs, impacts, dls, positions per posting)] per
    block, sub-lists in (salt, shard) order, blocks by first doc. A
    format-2 block's gaps decode to ordinals into its (salt, shard)
    group's all-docs rows (term ``""``: doc-id gaps, one dl per doc),
    which give its docs and dls; a format-1 block stores both."""
    data = ds.dataset(os.path.join(index_dir, "segments", seg_id, "postings"),
                      format="parquet", partitioning="hive")
    flt = (ds.field("sb") == sb) & ds.field("term").isin([term, ""])
    if has_field:
        flt = flt & (ds.field("field") == fld)
    rows = data.to_table(filter=flt).to_pylist()
    rows.sort(key=lambda r: (r["salt"], r["shard"], r["first_doc"] & (2**64 - 1)))
    all_docs = {}
    for r in rows:
        if r["term"] == "":
            ids, dls = all_docs.setdefault((r["salt"], r["shard"]), ([], []))
            ids.append(delta_decode(varint_decode(r["gaps"])))
            dls.append(varint_decode(r["dls"]).astype(np.float64))
    all_docs = {k: (np.concatenate(i), np.concatenate(d)) for k, (i, d) in all_docs.items()}
    out = []
    for r in rows:
        if r["term"] == "":
            continue
        docs = delta_decode(varint_decode(r["gaps"]))
        tf = varint_decode(r["tfs"]).astype(np.float64)
        if r["dls"]:
            dl = varint_decode(r["dls"]).astype(np.float64)
        else:
            ids, dls = all_docs[(r["salt"], r["shard"])]
            docs, dl = ids[docs], dls[docs]
        imp = idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl)))
        pos = None
        if r.get("poss") is not None:
            flat = varint_decode(r["poss"]).astype(np.int64)
            off = np.concatenate(([0], np.cumsum(tf.astype(np.int64))))
            pos = [np.cumsum(flat[off[j]:off[j + 1]]) for j in range(len(docs))]
        out.append((docs, imp, dl, pos))
    return out


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.uint64)


def _check_bucket(index_dir, seg_id, sb, want, avgdls, positions, has_field=True):
    """decode_all, imp_at and positions_bulk of every list of a
    ``read_bucket`` (each on a fresh read, so each decodes its own
    batch) against the per-block reference, bit for bit."""
    idfs = {(f, t): 0.5 + 0.1 * i for i, (f, t) in
            enumerate((f, t) for f in sorted(want) for t in want[f])}

    def read():
        return ReadScope([(seg_id, sb)]).run(
            read_bucket, index_dir, seg_id, sb, want, idfs, avgdls, K1, B,
            frozenset(positions),
        )

    lists = read()
    checked = 0
    rng = np.random.default_rng(sb)
    for key, tp in lists.items():
        ref = _reference(index_dir, seg_id, sb, *key, idfs[key], avgdls[key[0]], has_field)
        ref_docs = np.concatenate([d for d, _, _, _ in ref])
        ref_imp = np.concatenate([imp for _, imp, _, _ in ref])
        docs, imp = tp.decode_all()
        assert np.array_equal(docs, ref_docs), key
        assert np.array_equal(_bits(imp), _bits(ref_imp)), key
        # candidates: a sample of the list's docs plus ids it lacks,
        # unsorted and with repeats
        absent = rng.integers(0, 2**63, 20, dtype=np.int64).astype(np.uint64)
        cand = np.concatenate([rng.choice(ref_docs, min(len(ref_docs), 25)), absent,
                               ref_docs[:1]])
        rng.shuffle(cand)
        fresh = read()[key]
        found, got = fresh.imp_at(cand)
        where = {int(d): i for i, d in enumerate(ref_docs.tolist())}
        want_found = np.array([int(c) in where for c in cand.tolist()])
        want_imp = np.array([ref_imp[where[int(c)]] if int(c) in where else 0.0
                             for c in cand.tolist()])
        assert np.array_equal(found, want_found), key
        assert np.array_equal(_bits(got), _bits(want_imp)), key
        n_dec = sum(len(sl._dec) for sl in fresh.subs.values())
        n_blocks = sum(len(sl.firsts) for sl in fresh.subs.values())
        assert n_dec <= min(n_blocks, len(cand)), key  # touched blocks only
        if key in positions:
            ref_dl = np.concatenate([dl for _, _, dl, _ in ref])
            ref_pos = [p for _, _, _, ps in ref for p in ps]
            ci, pos, dl = read()[key].positions_bulk(cand)
            w_ci, w_pos, w_dl = [], [], []
            for i, c in enumerate(cand.tolist()):
                if c in where:
                    p = ref_pos[where[c]]
                    w_ci += [i] * len(p)
                    w_pos += p.tolist()
                    w_dl += [ref_dl[where[c]]] * len(p)
            assert ci.tolist() == w_ci and pos.tolist() == w_pos, key
            assert np.array_equal(_bits(dl), _bits(np.array(w_dl))), key
        checked += 1
    return checked


def test_read_bucket_decodes_equal_per_block(spark, small_corpus, tmp_path):
    """Two salts, positions, an extra field (whose rows have no
    positional payload) in one multi-field read: the batched decode
    reads the Arrow buffers of the scan directly."""
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus, d, n_shards=4, n_tb=4, n_salts=2, n_sb=2,
                block_size=16, extra_fields={"sh": "code_v1_shingle"}, positions=True)
    m = IndexManifest.load(d)
    seg = m.segments[0]["id"]
    avgdls = {"content": m.field_avgdl("content"), "sh": m.field_avgdl("sh")}
    want = {"content": ["return", "int", "fn", "self", "struct", "zzz_absent"],
            "sh": ["return int", "fn self"]}
    checked = 0
    for sb in range(2):
        checked += _check_bucket(
            d, seg, sb, want, avgdls,
            {("content", "return"), ("content", "int")},
        )
    assert checked >= 10


def test_legacy_segment_decodes_equal_per_block(spark, small_corpus, tmp_path):
    """A segment without a ``field`` column reads as ``content``."""
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(120), d, n_shards=4, n_tb=4, n_sb=2,
                block_size=16, positions=True)
    m = IndexManifest.load(d)
    seg = m.segments[0]["id"]
    for f in glob.glob(os.path.join(d, "segments", seg, "postings", "**", "*.parquet"),
                       recursive=True):
        t = pq.read_table(f)
        pq.write_table(t.drop_columns(["field"]).replace_schema_metadata(None), f)
        crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
    want = {"content": ["return", "int", "fn", "self"]}
    checked = sum(
        _check_bucket(d, seg, sb, want, {"content": m.avgdl},
                      {("content", "return"), ("content", "fn")}, has_field=False)
        for sb in range(2)
    )
    assert checked >= 6


def _cut_one_block(index_dir, seg_id, all_docs=False):
    """Drop the last byte of one multi-posting content block's gaps in
    place -> (term, block_id, sb, salt, shard) of that block: a term
    block, or with ``all_docs`` an all-docs block (term ``""``)."""
    for f in sorted(glob.glob(os.path.join(index_dir, "segments", seg_id, "postings",
                                           "**", "*.parquet"), recursive=True)):
        t = pq.read_table(f)
        rows = t.to_pylist()
        for r in rows:
            if r["n"] >= 2 and r["field"] == "content" and (r["term"] == "") == all_docs:
                r["gaps"] = r["gaps"][:-1]
                pq.write_table(t.from_pylist(rows, schema=t.schema), f)
                crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
                if os.path.exists(crc):
                    os.remove(crc)
                sb = int(re.search(r"sb=(\d+)", f).group(1))
                # a term of the same group, to query it by
                term = r["term"] or next(
                    x["term"] for x in rows
                    if x["term"] and x["field"] == "content"
                    and (x["salt"], x["shard"]) == (r["salt"], r["shard"])
                )
                return term, r["block_id"], sb, r["salt"], r["shard"]
    raise AssertionError("no multi-posting block")


def test_truncated_block_raises_on_query_and_merge(spark, small_corpus, tmp_path):
    """A block one byte short used to decode silently wrong (its cut
    varint ran into the next block in merge's joined decode). Both
    readers now raise, naming the segment, the term and the block."""
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(120), d, n_shards=2, n_tb=2, block_size=16)
    incremental_update(spark, generate_corpus(spark, 40, partitions=2, start=5000), d)
    seg = IndexManifest.load(d).segments[0]["id"]
    term, block_id, _, _, _ = _cut_one_block(d, seg)
    named = rf"segment {seg}\b.*term content:{re.escape(repr(term))}.*block {block_id}\b.*gaps: "
    with pytest.raises(ValueError, match=named):
        search_many(spark, d, [(0, term, 10)], execution="local")
    with pytest.raises(Exception, match=named):
        merge_segments(spark, d)


def test_truncated_all_docs_block_raises_on_query_and_merge(spark, small_corpus, tmp_path):
    """A cut all-docs block (format 2: the doc ids and dls its group's
    ordinals index) raises on the query path, naming the segment, sb,
    sub-list and block, and in merge, naming the segment and block."""
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(120), d, n_shards=2, n_tb=2, block_size=16)
    incremental_update(spark, generate_corpus(spark, 40, partitions=2, start=5000), d)
    seg = IndexManifest.load(d).segments[0]["id"]
    term, block_id, sb, salt, shard = _cut_one_block(d, seg, all_docs=True)
    named = (rf"segment {seg} sb {sb}, all-docs list content, sub-list \(salt {salt}, "
             rf"shard {shard}\), block {block_id}: gaps: .*cut off")
    with pytest.raises(ValueError, match=named):
        search_many(spark, d, [(0, term, 10)], execution="local")
    with pytest.raises(Exception, match=rf"segment {seg}, all-docs list content, "
                       rf"block {block_id} \(shard {shard}, salt {salt}\): gaps: "):
        merge_segments(spark, d)
